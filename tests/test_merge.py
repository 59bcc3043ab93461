"""CDC merge golden tests — the end-to-end-against-golden-output layer the
reference lacks (SURVEY.md §5). The expected final state is computed by an
independent dict-replay in plain Python; the engine's merge path must agree
for scripted and randomized insert/update/delete sequences."""

from __future__ import annotations

import random

import pytest

from debezium_emr_hudi_deltastreamer_sample_spark.operators.merge import (
    apply_deletes,
    latest_by_key,
    merge_upsert,
)

SCHEMA = "id int, name string, salary int, op string, lsn long"


def _rows(rows):
    """Sorted (id, name, salary) tuples; a NULL id sorts first."""
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1:]))


def replay(events, snapshot=()):
    """Independent oracle: dict replay of latest-wins CDC semantics over
    a keyed starting snapshot of (id, name, salary) rows. The newest
    event per key decides: a delete drops the key (a NULL key matches no
    row, so its delete drops nothing), a NULL op leaves the snapshot row,
    anything else replaces it."""
    state = {row[0]: tuple(row) for row in snapshot}
    newest = {e[0]: e for e in sorted(events, key=lambda e: e[4])}
    for id_, name, salary, op, _lsn in newest.values():
        if op == "d" and id_ is not None:
            state.pop(id_, None)
        elif op not in ("d", None):
            state[id_] = (id_, name, salary)
    return _rows(state.values())


def engine_result(spark, snapshot, changes):
    table = spark.createDataFrame(snapshot, "id int, name string, salary int")
    ch = spark.createDataFrame(changes, SCHEMA)
    out = merge_upsert(table, ch, keys=["id"], ordering=["lsn"])
    return _rows(tuple(r) for r in out.select("id", "name", "salary").collect())


def test_scripted_insert_update_delete(spark):
    # insert 1,2 → update 1 → delete 2 → reinsert 2 → update-then-delete 3
    changes = [
        (1, "a", 10, "c", 1),
        (2, "b", 20, "c", 2),
        (1, "a2", 11, "u", 3),
        (2, None, None, "d", 4),
        (2, "b2", 22, "c", 5),
        (3, "c", 30, "c", 6),
        (3, "c2", 33, "u", 7),
        (3, None, None, "d", 8),
    ]
    got = engine_result(spark, [], changes)
    want = replay([(c[0], c[1], c[2], c[3], c[4]) for c in changes])
    assert got == want == [(1, "a2", 11), (2, "b2", 22)]


def test_merge_respects_snapshot_and_ordering(spark):
    snapshot = [(1, "old", 1), (9, "keep", 9)]
    # Out-of-order arrival: the lsn=5 update must win over lsn=3.
    changes = [(1, "late", 5, "u", 5), (1, "early", 3, "u", 3), (2, "new", 2, "c", 4)]
    got = engine_result(spark, snapshot, changes)
    assert got == [(1, "late", 5), (2, "new", 2), (9, "keep", 9)]


def test_delete_unknown_key_is_noop(spark):
    got = engine_result(spark, [(1, "a", 1)], [(7, None, None, "d", 1)])
    assert got == [(1, "a", 1)]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_randomized_replay_equivalence(spark, seed):
    rng = random.Random(seed)
    changes = []
    for lsn in range(1, 120):
        id_ = rng.randrange(12)
        op = rng.choice(["c", "u", "u", "d"])
        if op == "d":
            changes.append((id_, None, None, "d", lsn))
        else:
            changes.append((id_, f"n{lsn}", rng.randrange(1000), op, lsn))
    rng.shuffle(changes)  # arrival order ≠ LSN order
    # A keyed starting snapshot: some keys the changes touch, some they
    # never do (ids 12-15), or none at all.
    snapshot = [
        (id_, f"s{id_}", rng.randrange(1000))
        for id_ in rng.sample(range(16), rng.randrange(9))
    ]
    got = engine_result(spark, snapshot, changes)
    assert got == replay(changes, snapshot)


def test_latest_by_key_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "x", 0, "u", 5), (1, "y", 0, "u", 5)], SCHEMA
    )
    # Tie on lsn: pick is stable across runs when ordering ends unique; with
    # a pure tie both runs must at least agree with themselves on one row.
    out = latest_by_key(df, ["id"], ["lsn", "name"])
    assert out.count() == 1 and out.first().name == "y"


def test_apply_deletes_anti_join(spark):
    table = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    deletes = spark.createDataFrame([(2,), (3,)], "id int")
    assert [r.id for r in apply_deletes(table, deletes, ["id"]).collect()] == [1]


def test_schema_reconciliation_new_column(spark):
    """B11: changes may carry columns the snapshot lacks; merge keeps the
    snapshot's declared schema (unionByName + cast path)."""
    table = spark.createDataFrame([(1, "a", 10)], "id int, name string, salary int")
    changes = spark.createDataFrame(
        [(2, "b", "c", 7)], "id int, name string, op string, lsn long"
    )  # no salary column at all → reconciled to null
    out = merge_upsert(table, changes, keys=["id"], ordering=["lsn"])
    rows = {r.id: (r.name, r.salary) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("b", None)}


def test_schema_evolution_added_column_survives(spark):
    """B11 both directions: a NEW data column carried by the change batch
    survives the merge (null for pre-existing rows), while CDC metadata
    (op/ordering/_ts_ms) is not promoted to a data column."""
    table = spark.createDataFrame([(1, "a", 10)], "id int, name string, salary int")
    changes = spark.createDataFrame(
        [(2, "b", 20, "NL", "c", 7, 1000)],
        "id int, name string, salary int, country string, op string, lsn long, _ts_ms long",
    )
    out = merge_upsert(table, changes, keys=["id"], ordering=["lsn"])
    assert out.columns == ["id", "name", "salary", "country"]
    rows = {r.id: (r.name, r.salary, r.country) for r in out.collect()}
    assert rows == {1: ("a", 10, None), 2: ("b", 20, "NL")}


def test_merge_plans_the_change_batch_once(spark, tmp_path):
    """Upserts and deletes share one window: the change batch is scanned
    once in the merge's plan, not again for a separate delete branch."""
    path = str(tmp_path / "changes")
    spark.createDataFrame(
        [(1, "a", 10, "c", 1), (2, None, None, "d", 2), (3, "z", 1, None, 3)],
        SCHEMA,
    ).write.parquet(path)
    table = spark.createDataFrame(
        [(2, "b", 20), (3, "y", 3)], "id int, name string, salary int"
    )
    out = merge_upsert(table, spark.read.parquet(path), keys=["id"], ordering=["lsn"])
    # The snapshot is an in-memory scan: every FileScan reads the batch.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert sorted(map(tuple, out.collect())) == [(1, "a", 10), (3, "y", 3)]


from hypothesis import HealthCheck, example, given, settings, strategies as st

_event = st.tuples(
    st.one_of(st.none(), st.integers(0, 5)),      # id (few keys → collisions)
    st.text("ab", min_size=1, max_size=3),        # name
    st.integers(0, 99),                           # salary
    st.sampled_from(["c", "u", "u", "d", None]),  # op
)


@given(
    events=st.lists(_event, min_size=1, max_size=30),
    snapshot=st.dictionaries(
        # overlaps the event ids, and some beyond them
        st.one_of(st.none(), st.integers(0, 7)),
        st.tuples(st.text("ab", min_size=1, max_size=3), st.integers(0, 99)),
        max_size=6,
    ),
)
# The newest change of key 1 has a NULL op: its snapshot row stays.
@example(
    events=[(1, "b", 2, "u"), (1, "c", 3, None), (2, "d", 4, "c")],
    snapshot={1: ("a", 1)},
)
# A delete with a NULL key deletes nothing, not even the NULL-keyed row.
@example(
    events=[(None, "x", 1, "d"), (2, "y", 2, "d")],
    snapshot={None: ("n", 5), 2: ("b", 2)},
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_property_replay(spark, events, snapshot):
    """Property: for ANY keyed snapshot and insert/update/delete sequence,
    the distributed merge equals the dict replay (hypothesis
    shrinks failures to a minimal snapshot and event sequence)."""
    changes = [
        (id_, None if op == "d" else name, None if op == "d" else sal, op, lsn)
        for lsn, (id_, name, sal, op) in enumerate(events, start=1)
    ]
    rows = [(id_, name, sal) for id_, (name, sal) in snapshot.items()]
    assert engine_result(spark, rows, changes) == replay(changes, rows)
