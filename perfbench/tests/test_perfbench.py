"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen_cdc, gen_replays, stats  # noqa: E402
from perfbench.tracer import Span, self_times  # noqa: E402


# --- generators are deterministic per seed ---------------------------------------


def test_replays_same_seed_same_bytes():
    a = gen_replays.generate(7, 5)
    b = gen_replays.generate(7, 5)
    assert [(r.html, r.body) for r in a] == [(r.html, r.body) for r in b]
    c = gen_replays.generate(8, 5)
    assert [r.body for r in a] != [r.body for r in c]


def test_replay_prefix_is_stable():
    """A run that consumes more of the stream sees the same first replays."""
    short, long = gen_replays.generate(3, 2), gen_replays.generate(3, 6)
    assert [r.body for r in short] == [r.body for r in long[:2]]


def test_history_has_no_renames():
    for r in gen_replays.generate(5, 10, renames=False):
        assert all(nick == f"P{pid}" for pid, (_, nick, _) in r.players.items())


def _cdc_stream(seed: int, n: int):
    import pandas as pd

    rows = 20_000
    base = pd.DataFrame({
        "o_orderkey": range(1, rows + 1),
        "o_custkey": [i % 97 for i in range(rows)],
        "o_orderstatus": ["O", "F"] * (rows // 2),
        "o_totalprice": [float(i) + 0.5 for i in range(rows)],
        "o_orderdate": [788_918_400_000_000] * rows,
        "o_orderpriority": ["5-LOW"] * rows,
    })
    model = gen_cdc.CdcModel(base, seed)
    ops = []
    for v in range(1, n + 1):
        op = model.next_op()
        ops.append(op)
        model.apply(op, v)
    return model, ops


def test_cdc_stream_same_seed_same_ops():
    (ma, a), (mb, b) = _cdc_stream(11, 12), _cdc_stream(11, 12)
    assert [o.kind for o in a] == [o.kind for o in b] == list(gen_cdc.CYCLE) * 2
    for x, y in zip(a, b):
        assert (x.lo, x.hi) == (y.lo, y.hi)
        assert (x.rows is None) == (y.rows is None)
        if x.rows is not None:
            assert x.rows.equals(y.rows)
    assert ma.rows() == mb.rows()
    _, c = _cdc_stream(12, 12)
    assert any(x.lo != y.lo for x, y in zip(a, c) if x.kind == "delete_dv")


def test_gen_testdata_same_seed_same_bytes(tmp_path):
    from perfbench.datagen import tables

    a = tables(str(tmp_path / "a"), 0.001, 5)
    b = tables(str(tmp_path / "b"), 0.001, 5)
    names = sorted(os.listdir(a))
    assert names and names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []


# --- each workload's check catches a planted wrong answer ---------------------------


def test_replay_check_catches_wrong_document():
    replays = gen_replays.generate(2, 3, renames=False)
    truth = gen_replays.ReplayTruth()
    for r in replays:
        truth.load(r)
    want = truth.document(replays[-1])
    doc = copy.deepcopy(want)
    doc["replay"] = json.dumps(doc["replay"])  # the outbox stores it as text
    assert checks.doc_mismatches(doc, want) == []

    planted = copy.deepcopy(doc)
    planted["cutlets"][0]["kills"] += 1
    assert checks.doc_mismatches(planted, want) == ["cutlets"]
    planted = copy.deepcopy(doc)
    planted["survivors"] = planted["survivors"][1:]
    assert "survivors" in checks.doc_mismatches(planted, want)
    planted = copy.deepcopy(doc)
    planted["replay"] = json.dumps({**want["replay"], "island": "Nowhere"})
    assert checks.doc_mismatches(planted, want) == ["replay.island"]


def test_replay_truth_survivors_span_replays():
    """The cross-replay survivor rule: a player killed in an earlier
    replay is not a survivor of a later one."""
    a, b = gen_replays.generate(4, 2, renames=False)
    truth = gen_replays.ReplayTruth()
    truth.load(a)
    truth.load(b)
    died_in_a = {f["victim"] for f in a.frags}
    survivors = {s["id_from_json"] for s in truth.document(b)["survivors"]}
    assert not survivors & died_in_a


def test_lake_check_catches_stale_read():
    model, ops = _cdc_stream(3, 3)  # merge_cow, append, delete_dv
    assert ops[-1].kind == "delete_dv"
    lo, hi = ops[-1].lo, ops[-1].hi
    before = model.rows(version=2, lo=lo, hi=hi)
    after = model.rows(lo=lo, hi=hi)
    assert before and after == []  # a read that misses the delete differs
    changes = model.changes(2, 3)
    assert changes and all(c[0] == "delete" for c in changes)


def test_star_hash_catches_one_changed_cell():
    cols = ["b", "a"]
    rows = [(1, 2.5), (3, 4.25)]
    h = checks.result_hash(cols, rows)
    assert checks.result_hash(["a", "b"], [(4.25, 3), (2.5, 1)]) == h  # order-free
    assert checks.result_hash(cols, [(1, 2.5), (3, 4.250000000000001)]) != h
    assert checks.result_hash(cols, rows[:1]) != h


def test_dedup_check_catches_missing_pair():
    docs = {
        1: "a b c d e f g h i j",
        2: "a b c d e f g h i x",  # near-duplicate of 1
        3: "k l m n o p q r s t",
    }
    exact = checks.exact_near_dup_pairs(docs, 0.5)
    assert exact == {(1, 2)}
    assert set() != exact  # an engine answer missing the pair is caught


def test_ann_recall_floor_catches_bad_neighbors():
    vectors = {i: [1.0, i / 10.0] for i in range(10)}
    exact = checks.exact_top_k(vectors, [0, 5], 3)
    assert exact[0] == [1, 2, 3] and 5 not in exact[5]
    assert checks.recall_at_k(exact, exact) == 1.0
    wrong = {p: [n + 100 for n in ns] for p, ns in exact.items()}
    assert checks.recall_at_k(wrong, exact) == 0.0


# --- statistics -----------------------------------------------------------------------


@pytest.mark.parametrize("n, rank, pct", [(20, 10, 50.0), (30, 20, 200 / 3),
                                          (100, 90, 90.0), (1000, 990, 99.0)])
def test_tail_rank(n, rank, pct):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted input
    value, p, count = stats.tail(values)
    assert (value, count) == (float(rank), n)
    assert p == pytest.approx(pct)


@pytest.mark.parametrize("n", [1, 2, 11, 19])
def test_tail_without_ten_beyond_the_median_reports_the_median(n):
    values = [float(i) for i in range(1, n + 1)]
    value, p, count = stats.tail(values)
    assert (value, p, count) == (stats.median(values), 50.0, n)


# --- tracer self time -------------------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 4.0, 8.0, 0, 0),
        Span("b.inner", 5.0, 6.0, 2, 0),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_self_time_counts_overlap_once():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("x", 1.0, 5.0, 0, 0),
        Span("y", 3.0, 7.0, 0, 0),  # overlaps x: covered is [1, 7]
        Span("z", 9.0, 12.0, 0, 0),  # clipped to the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)
