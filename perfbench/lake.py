"""The lake_rw workload: seeded writes beside reads on a manifest lake.

The lake holds the ``orders`` table. Each cycle
draws its key batches from a seeded window of the key space and runs,
in order: one upsert, one delete through each of the three delete
representations (copy-on-write, equality tombstone, deletion vector),
the re-append of every deleted row (so the live row count is constant),
four reads (latest snapshot, the previous version, a key lookup, a
metadata-only aggregate) and compact + vacuum. Compaction every cycle is
what the program requires (a stats-pruned upsert refuses a lake with
pending tombstones) and makes every cycle start from the same layout.

``LakeModel`` keeps the rows the lake must hold, so every read and the
snapshot after each cycle are checked against it outside the timed spans.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pandas as pd

COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
KEY = "o_orderkey"
SEQ = "change_seq"  # orders changes to one key; not stored in the lake
BATCH = 500  # keys per upsert and per delete
WINDOW = 4_000  # width of the key window one cycle's batches are drawn from


@dataclass(frozen=True)
class Batches:
    upsert: np.ndarray
    delete_cow: np.ndarray
    delete_mor: np.ndarray
    delete_dv: np.ndarray

    @property
    def deleted(self) -> np.ndarray:
        return np.concatenate([self.delete_cow, self.delete_mor, self.delete_dv])


def draw_batches(rng: np.random.Generator, n_keys: int) -> Batches:
    """Four disjoint sorted key batches from one seeded window."""
    lo = int(rng.integers(0, n_keys - WINDOW + 1))
    keys = rng.choice(np.arange(lo, lo + WINDOW, dtype=np.int64), 4 * BATCH, replace=False)
    parts = [np.sort(keys[i * BATCH:(i + 1) * BATCH]) for i in range(4)]
    return Batches(*parts)


class LakeModel:
    """The rows the lake must hold, keyed by order key."""

    def __init__(self, rows: pd.DataFrame):
        self.rows = rows[COLUMNS].set_index(KEY, drop=False).sort_index()

    def upsert_rows(self, keys: np.ndarray, seq: int) -> pd.DataFrame:
        """The change batch for ``keys``: a new price, stamped ``seq``."""
        ch = self.rows.loc[keys].copy()
        ch["o_totalprice"] = np.round(ch["o_totalprice"].to_numpy() + 1.25, 2)
        ch[SEQ] = np.int64(seq)
        return ch.reset_index(drop=True)

    def apply_upsert(self, changes: pd.DataFrame) -> None:
        self.rows.loc[changes[KEY].to_numpy(), COLUMNS] = changes[COLUMNS].to_numpy()
        self.rows = self.rows.astype(self._dtypes())

    def rows_for(self, keys: np.ndarray) -> pd.DataFrame:
        return self.rows.loc[keys].reset_index(drop=True)

    def without(self, keys: np.ndarray) -> pd.DataFrame:
        return self.rows.drop(index=keys).reset_index(drop=True)

    def snapshot(self) -> pd.DataFrame:
        return self.rows.reset_index(drop=True)

    @staticmethod
    def _dtypes() -> dict:
        return {"o_orderkey": "int64", "o_custkey": "int64", "o_orderstatus": object,
                "o_totalprice": "float64"}


def status_summary(rows: pd.DataFrame) -> pd.DataFrame:
    """Rows and exact price total per order status (the read aggregate)."""
    cents = np.round(rows["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame({"o_orderstatus": rows["o_orderstatus"].to_numpy(), "cents": cents})
    out = g.groupby("o_orderstatus", as_index=False).agg(n=("cents", "size"), cents=("cents", "sum"))
    out["total"] = [Decimal(int(c)) / 100 for c in out["cents"]]
    return out[["o_orderstatus", "n", "total"]]


def snapshot_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when two row sets are equal (compared sorted by key)."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a = got[COLUMNS].sort_values(KEY, ignore_index=True)
    b = want[COLUMNS].sort_values(KEY, ignore_index=True)
    for c in COLUMNS:
        if not (a[c].to_numpy() == b[c].to_numpy()).all():
            i = int(np.argmax(a[c].to_numpy() != b[c].to_numpy()))
            return f"{c} at key {a[KEY].iloc[i]}: {a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
    return None


def summary_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    a = got.sort_values("o_orderstatus", ignore_index=True)
    b = want.sort_values("o_orderstatus", ignore_index=True)
    if list(a["o_orderstatus"]) != list(b["o_orderstatus"]):
        return f"statuses {list(a['o_orderstatus'])} != {list(b['o_orderstatus'])}"
    if list(a["n"].astype(int)) != list(b["n"].astype(int)):
        return f"counts {list(a['n'])} != {list(b['n'])}"
    if [Decimal(str(x)) for x in a["total"]] != list(b["total"]):
        return f"totals {list(a['total'])} != {list(b['total'])}"
    return None


def files_on_disk(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed between listing and stat
                pass
    return out


def parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths if p.endswith(".parquet"))
