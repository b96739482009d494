"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import sys
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import lake as L  # noqa: E402
import stats  # noqa: E402
from check import compare, fingerprint  # noqa: E402
from tracing import PYTHON_EVAL_NODES, Span, Tracer, _PYTHON_EVAL_RE, self_times, union_length  # noqa: E402


# -- percentile sample rule ------------------------------------------------

@pytest.mark.parametrize("n, want", [(6, None), (19, None), (20, 50), (100, 90), (101, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert n - n * want / 100 >= 10  # samples above the percentile's rank
        assert n - n * (want + 1) / 100 < 10 or want == 99  # and it is the highest such


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


# -- spans and self time ---------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_the_union_of_clipped_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),  # overlaps a: counted once
        Span("c", 8.0, 12.0, parent=0),  # runs past its parent: clipped
        Span("a.1", 1.5, 2.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.5, 3.0, 4.0, 0.5])


def test_tracer_nests_spans_under_one_op_id():
    t = Tracer(enabled=True)
    with t.span("op:x", op_id=t.new_op()):
        with t.span("plans.build"):
            with t.span("inner"):
                pass
        with t.span("operators.action"):
            pass
    names = [(s.name, s.parent, s.op_id) for s in t.spans]
    assert names == [("op:x", None, 1), ("plans.build", 0, 1), ("inner", 1, 1),
                     ("operators.action", 0, 1)]
    assert all(s.end >= s.start for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op") as sp:
        assert sp is None
    assert t.spans == []


def test_python_eval_nodes_match_whole_operator_names():
    plan = ("+- ArrowEvalPython [f(x)]\n   +- BatchEvalPythonUDTF [g]\n"
            "      +- BatchEvalPython [h]\n +- Project [ArrowEvalPythonish]")
    assert _PYTHON_EVAL_RE.findall(plan) == ["ArrowEvalPython", "BatchEvalPythonUDTF", "BatchEvalPython"]
    assert len(set(PYTHON_EVAL_NODES)) == len(PYTHON_EVAL_NODES)


# -- lake model ------------------------------------------------------------

def _orders(n=10_000):
    rng = np.random.default_rng(0)
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 100, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 5000, n), 2),
    })


def test_batches_are_disjoint_seeded_and_inside_one_window():
    a = L.draw_batches(np.random.default_rng(7), 10_000)
    b = L.draw_batches(np.random.default_rng(7), 10_000)
    keys = [a.upsert, a.delete_cow, a.delete_mor, a.delete_dv]
    assert all(len(k) == L.BATCH for k in keys)
    assert len(np.unique(np.concatenate(keys))) == 4 * L.BATCH
    allk = np.concatenate(keys)
    assert allk.max() - allk.min() < L.WINDOW
    for x, y in zip(keys, [b.upsert, b.delete_cow, b.delete_mor, b.delete_dv]):
        assert (x == y).all()


def test_model_upsert_delete_reappend_keeps_row_count():
    m = L.LakeModel(_orders())
    before = m.snapshot().copy()
    b = L.draw_batches(np.random.default_rng(1), 10_000)
    ch = m.upsert_rows(b.upsert, seq=3)
    assert (ch[L.SEQ] == 3).all()
    m.apply_upsert(ch)
    snap = m.snapshot()
    assert len(snap) == len(before)
    moved = snap.set_index(L.KEY).loc[b.upsert, "o_totalprice"].to_numpy()
    old = before.set_index(L.KEY).loc[b.upsert, "o_totalprice"].to_numpy()
    assert np.allclose(moved - old, 1.25)
    assert L.snapshot_diff(snap, before) is not None
    assert len(m.without(b.deleted)) == len(before) - 3 * L.BATCH
    assert L.snapshot_diff(m.rows_for(b.upsert), ch.drop(columns=[L.SEQ])) is None


def test_status_summary_totals_are_exact_decimals():
    rows = pd.DataFrame({"o_orderstatus": ["F", "F", "O"], "o_totalprice": [0.1, 0.2, 1.005]})
    got = L.status_summary(rows)
    assert list(got["o_orderstatus"]) == ["F", "O"]
    assert list(got["n"]) == [2, 1]
    assert list(got["total"]) == [Decimal("0.30"), Decimal("1.00")]  # 1.005 is 1.00499.. in binary
    same = got.assign(total=[Decimal("0.3"), Decimal("1.0")])
    assert L.summary_diff(same, got) is None
    assert L.summary_diff(got.assign(n=[2, 2]), got) is not None


# -- output checks ---------------------------------------------------------

def test_fingerprint_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"], "v": [[1.0], [2.0], []]})
    shuffled = df.iloc[[2, 0, 1]][["v", "b", "a"]]
    assert fingerprint(df) == fingerprint(shuffled)
    assert fingerprint(df) != fingerprint(df.assign(a=[1, 2, 4]))


def test_compare_checks_values_as_a_multiset():
    got = pd.DataFrame({"k": [2, 1], "x": [0.5, 1.0 + 1e-13]})
    want = pd.DataFrame({"x": [1.0, 0.5], "k": [1, 2]})
    assert compare(got, want) is None
    assert "rows" in compare(got.iloc[:1], want)
    assert "column x" in compare(got.assign(x=[0.5, 1.1]), want)


# -- inputs ------------------------------------------------------------------

def test_datagen_is_deterministic_per_seed():
    a = datagen.base_tables(3)
    b = datagen.base_tables(3)
    for name in datagen.TABLES:
        assert a[name].equals(b[name])
    assert a["orders"].num_rows == datagen.SF_ROWS["orders"]
    assert not a["orders"].equals(datagen.base_tables(4)["orders"])
    docs = a["documents"].to_pydict()
    assert all(n == len(t) for n, t in zip(docs["n_chars"], docs["text"]))
    assert sum(t.endswith(" dup") for t in docs["text"]) == len(docs["text"]) // 20
