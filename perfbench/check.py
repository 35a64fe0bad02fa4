"""Output check against the registered DuckDB oracles.

References are computed once per generated-input digest and kept on
disk, outside every timed section. The comparison itself is the one
``tools/check_correctness.py`` applies (its canonical sort, dtype-kind
rule and exact per-column equality), imported rather than restated.
"""

from __future__ import annotations

import os
import pickle

import pandas as pd

from tools.check_correctness import TABLES, _canon, _col_equal, _kind


def references(
    oracles: dict[str, str], names: list[str], data_dir: str, cache_dir: str
) -> dict[str, pd.DataFrame]:
    """Oracle result per name over ``data_dir``, cached under
    ``cache_dir`` (which must be keyed by the input digest)."""
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, pd.DataFrame] = {}
    con = None
    for name in names:
        path = os.path.join(cache_dir, f"{name}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.sql(
                    f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{data_dir}/{t}.parquet'"
                )
        out[name] = con.sql(oracles[name]).df()
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out[name], f)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: canonical column and row
    order first, then pandas' per-row value hash."""
    df = df.rename(columns=str.lower)
    canon, err = _canon(df)
    if err:
        return f"unhashable: {err}"
    h = pd.util.hash_pandas_object(canon, index=False)
    return f"{int(h.sum()) & 0xFFFFFFFFFFFFFFFF:016x}"


def mismatch(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """None when ``got`` equals the oracle result, else the first
    problem found."""
    if len(got) != len(ref):
        return f"rowcount {len(got)} != {len(ref)}"
    got = got.rename(columns=str.lower)
    ref = ref.rename(columns=str.lower)
    if sorted(got.columns) != sorted(ref.columns):
        return f"schema {sorted(got.columns)} != {sorted(ref.columns)}"
    a, aerr = _canon(got)
    b, berr = _canon(ref)
    if aerr or berr:
        return f"not hashable: {aerr or berr}"
    for c in a.columns:
        if _kind(a[c]) != _kind(b[c]):
            return f"dtype kind differs on {c!r}"
        if not _col_equal(a[c], b[c]):
            return f"values differ on {c!r}"
    return None
