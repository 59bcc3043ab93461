"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from perfbench import gen, oracle
from perfbench.stats import percentile, quieter_half, summarize, tail_percentile
from perfbench.trace import Span, covered, self_times


def _row(key, salary, dept="dept_00"):
    return {
        "id": key, "full_name": f"n{key}", "email": "e", "phone": "p",
        "department": dept, "salary": salary, "created_at": dt.date(2020, 1, 1),
    }


# -- generator ------------------------------------------------------------------


def test_changelog_deterministic_per_seed():
    a = gen.employee_changelog(7, 200, 5, 50, hot_share=0.9)
    b = gen.employee_changelog(7, 200, 5, 50, hot_share=0.9)
    c = gen.employee_changelog(8, 200, 5, 50, hot_share=0.9)
    assert a == b
    assert a != c
    lines_a = [gen.kafka_record(ch, i) for i, ch in enumerate(a.batches[0])]
    lines_b = [gen.kafka_record(ch, i) for i, ch in enumerate(b.batches[0])]
    assert lines_a == lines_b


def test_changelog_shape():
    log = gen.employee_changelog(3, 500, 20, 100, hot_share=0.9)
    ops = [ch.op for batch in log.batches for ch in batch]
    assert set(ops) == {"c", "u", "d"}
    assert 0.7 < ops.count("u") / len(ops) < 0.9
    # Zipf skew: some batch repeats a key.
    assert any(len({ch.row["id"] for ch in b}) < len(b) for b in log.batches)
    # LSNs are unique and grow across batches.
    last = 0
    for batch in log.batches:
        lsns = sorted(ch.lsn for ch in batch)
        assert len(set(lsns)) == len(lsns) and lsns[0] > last
        last = lsns[-1]
    # Every u/d targets a live key, so the replay never updates a ghost.
    live = {r["id"] for r in log.initial}
    for batch in log.batches:
        for ch in sorted(batch, key=lambda c: c.lsn):
            if ch.op == "c":
                assert ch.row["id"] not in live
                live.add(ch.row["id"])
            else:
                assert ch.row["id"] in live
                if ch.op == "d":
                    live.remove(ch.row["id"])


def test_view_inputs_deterministic():
    v1 = gen.view_log(5, 50, 200, 8, 20, 5, 4, 100, 50)
    v2 = gen.view_log(5, 50, 200, 8, 20, 5, 4, 100, 50)
    assert v1.steps == v2.steps and v1.orders == v2.orders
    assert [s for s, _ in v1.steps].count("dim") == 2
    for e1, e2 in zip([v1.events0] + v1.event_batches, [v2.events0] + v2.event_batches):
        for col in e1:
            assert np.array_equal(np.asarray(e1[col]), np.asarray(e2[col])), col


# -- replay oracle ----------------------------------------------------------------


def test_replay_hand_checked_log():
    initial = [_row(1, 100), _row(2, 200), _row(3, 300)]
    batches = [
        [
            # Out-of-order LSN: the later-listed change is older and loses.
            gen.Change(0, 20, "u", _row(1, 111)),
            gen.Change(0, 10, "u", _row(1, 999)),
            # Duplicate key in one batch: highest LSN wins.
            gen.Change(0, 11, "u", _row(2, 201)),
            gen.Change(0, 12, "u", _row(2, 202)),
            gen.Change(0, 13, "d", _row(3, 0)),
        ],
        [
            # Delete followed by a re-insert of the same key.
            gen.Change(1, 30, "c", _row(3, 333)),
            gen.Change(1, 31, "d", _row(2, 0)),
            gen.Change(1, 32, "c", _row(4, 400)),
        ],
    ]
    state = oracle.replay(initial, batches)
    assert {k: r["salary"] for k, r in state.items()} == {1: 111, 3: 333, 4: 400}
    assert oracle.summary(state) == (3, 844, 8)
    after_first = oracle.replay(initial, batches[:1])
    assert {k: r["salary"] for k, r in after_first.items()} == {1: 111, 2: 202}


def test_replay_delete_then_reinsert_within_one_batch():
    state = oracle.replay(
        [_row(5, 50)],
        [[gen.Change(0, 2, "c", _row(5, 55)), gen.Change(0, 1, "d", _row(5, 0))]],
    )
    assert state[5]["salary"] == 55


def test_join_view_and_rollup_oracles():
    orders = {1: {"o_orderkey": 1, "o_custkey": 9, "o_orderstatus": "F", "o_totalprice": 5.0},
              2: {"o_orderkey": 2, "o_custkey": 8, "o_orderstatus": "O", "o_totalprice": 6.0}}
    customers = {9: {"c_custkey": 9, "c_name": "c9", "c_mktsegment": "B", "c_acctbal": 1.5}}
    assert oracle.join_view(orders, customers) == [(1, 9, "F", 5.0, "c9", "B", 1.5)]
    ts = np.array(["2024-01-01T00:10", "2024-01-01T00:50", "2024-01-01T01:00"], dtype="datetime64[us]")
    cols = {"ts": ts, "event_type": ["a", "a", "a"], "value": np.array([1.0, 3.0, 2.0])}
    out = oracle.hourly_rollup([cols])
    assert out == {
        (dt.datetime(2024, 1, 1, 0), "a"): (2, 4.0, 1.0, 3.0),
        (dt.datetime(2024, 1, 1, 1), "a"): (1, 2.0, 2.0, 2.0),
    }


# -- statistics -----------------------------------------------------------------


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0


def test_percentile_matches_numpy():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for p in (0, 25, 50, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))
    s = summarize([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5 and s["p75"] == pytest.approx(30.25)


def test_quieter_half_keeps_least_stolen_samples():
    values = [1.0, 2.0, 3.0, 4.0, 5.0]
    steals = [0.10, 0.00, 0.05, 0.01, 0.20]
    assert quieter_half(values, steals) == [2.0, 4.0, 3.0]
    assert quieter_half(values[:4], steals[:4]) == [2.0, 4.0]
    assert quieter_half([7.0], [0.5]) == [7.0]
    with pytest.raises(ValueError):
        quieter_half([1.0], [])


# -- span arithmetic ------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 4.0, 0, 0),
        Span(2, "b", 3.0, 6.0, 0, 0),   # overlaps a by 1
        Span(3, "c", 1.5, 2.0, 1, 0),
        Span(4, "d", 9.0, 12.0, 0, 0),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


def test_covered_union():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert covered([(1, 1), (2, 1)]) == 0.0
