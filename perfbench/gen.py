"""Seeded input generator: the ten tables every registered query reads.

The tables have the schemas of the repository's test data (TESTDATA.md
covers the star schema and ``events``) and reproduce what the sf0.1
tables show when measured (:func:`shape` computes the figures): a
``documents`` corpus of 10-100 words from a 30-word vocabulary with
about 5 % near-duplicates (an earlier text plus `` dup``), and unit-norm
64-d ``embeddings`` whose ``label`` 0..9 is drawn independently of the
vector, so the per-label centroids sit near the origin (norm about
``1/sqrt(rows per label)``) as they do there. ``rows`` scales the
relational and event tables against sf0.01; the corpus sizes are
separate so the quadratic dedup oracles stay cheap. The same ``seed``
always writes the same bytes, and nothing here reads the repository's
own data.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(rng, lo: str, hi: str, n: int, unit: str = "D") -> np.ndarray:
    a = np.datetime64(lo, unit).astype(np.int64)
    b = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(a, b + 1, n).astype(f"datetime64[{unit}]").astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(
    out: str, seed: int, rows: float, docs: int, embeddings: int
) -> dict:
    """Write all tables under ``out``; return ``{table: (rows, bytes)}``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(100 * rows))
    n_part = int(2000 * rows)
    n_cust = int(1500 * rows)
    n_ord = int(15000 * rows)
    n_li = 4 * n_ord
    n_ev = int(10000 * rows)
    n_users = max(10, int(150 * rows))
    n_docs, n_emb = docs, embeddings

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["blue", "cold", "hot", "red", "small", "large", "green", "dark"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "SMALL", "MEDIUM", "LARGE",
                              "STANDARD", "PROMO"], n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust).tolist(),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"],
                                 n_ord).tolist(),
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li).tolist(),
        "l_linestatus": _pick(rng, ["F", "O"], n_li).tolist(),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_li),
    })
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts(rng, "2024-01-01T00:00:00.000000",
                          "2024-01-30T23:59:59.999999", n_ev, "us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup",
                                  "error"], n_ev).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            words = rng.choice(len(WORDS), rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in words))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        t: (
            pq.read_metadata(os.path.join(out, f"{t}.parquet")).num_rows,
            os.path.getsize(os.path.join(out, f"{t}.parquet")),
        )
        for t in TABLES
    }


def shape(out: str) -> dict:
    """What the retrieval and dedup plans see in a data directory: rows
    per label, the mean norm of the per-label centroids, the in-sample
    nearest-centroid accuracy of the labels, the query count
    (``vec_id % 50 == 0``) and the near-duplicate share of the corpus."""
    emb = pq.read_table(os.path.join(out, "embeddings.parquet"))
    x = np.asarray(emb["embedding"].to_pylist(), dtype=np.float64)
    y = emb["label"].to_numpy()
    per = np.bincount(y, minlength=10)
    cent = np.stack([x[y == k].mean(0) for k in range(10)])
    norm = np.linalg.norm(cent, axis=1)
    acc = float(((x @ (cent / norm[:, None]).T).argmax(1) == y).mean())
    text = pq.read_table(os.path.join(out, "documents.parquet"),
                         columns=["text"])["text"].to_pylist()
    return {
        "rows_per_label": [int(per.min()), int(per.max())],
        "centroid_norm": float(norm.mean()),
        "nearest_centroid_acc": acc,
        "queries": int((emb["vec_id"].to_numpy() % 50 == 0).sum()),
        "near_dup_share": sum(t.endswith(" dup") for t in text) / len(text),
    }


def digest(out: str) -> str:
    """Content digest of a generated directory (keys the oracle cache)."""
    h = hashlib.sha1()
    for t in TABLES:
        with open(os.path.join(out, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
