"""Output checks: DuckDB oracles for registered ops, fingerprints elsewhere.

A result is compared as a multiset of rows over its sorted column names:
row count, column names, then values (exact for non-floats; floats equal
or within 1e-9 relative, the tolerance the repo's own oracle gate uses).
A fingerprint (row count + order-insensitive hash) pins a result that
was already checked, so every later repetition of the op can be checked
cheaply against it.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canonical(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canonical(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canonical(x)) for k, x in v.items()))
    return v


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, nested values as tuples, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_canonical)
    try:
        return df.sort_values(by=list(df.columns), ignore_index=True)
    except TypeError:
        return df.sort_values(
            by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str)
        )


def fingerprint(df: pd.DataFrame) -> tuple[int, tuple[str, ...], int]:
    """(rows, columns, order-insensitive 64-bit hash) of a result."""
    df = df.reindex(sorted(df.columns), axis=1)
    canon = pd.DataFrame(
        {c: (df[c].map(lambda v: repr(_canonical(v))) if df[c].dtype == object else df[c])
         for c in df.columns}
    )
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return len(df), tuple(df.columns), int(h.sum(dtype=np.uint64))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a multiset of rows, else why not."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = normalize(got), normalize(want)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_numeric_dtype(av) and pd.api.types.is_numeric_dtype(bv):
            x, y = av.to_numpy(dtype=float), bv.to_numpy(dtype=float)
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-12) | (np.isnan(x) & np.isnan(y))
        else:
            ok = ((av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"column {c}: {av.iloc[i]!r} != {bv.iloc[i]!r}"
    return None


class Oracle:
    """DuckDB over the same parquet inputs the program reads.

    Answers are cached under ``cache_dir`` keyed by the inputs' name and
    the SQL text: the inputs are fixed, and the recursive-CTE oracles of
    the iterative ops take tens of seconds, so only the first run in a
    checkout pays for them."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None

    def run(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256(f"{os.path.basename(self.data_dir)}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key[:32]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:  # written by this class only
                return pickle.load(fh)
        if self.con is None:
            import duckdb

            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        out = self.con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "wb") as fh:
            pickle.dump(out, fh)
        os.replace(f"{path}.tmp{os.getpid()}", path)
        return out

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
