"""Single-writer enforcement (WriterLease): concurrent data commits to one
KeyedTable/DeltaLogTable must fail LOUDLY (ConcurrentWriterError), never
interleave as silent lost updates — the round-9 verdict's last
silent-corruption hole. Reference intent: one Deltastreamer writer per Hudi
table (/root/reference/README.md:295-313); Hudi enforces it with a lock
provider, this engine with a fencing-epoch lease over the commit CAS."""

from __future__ import annotations

import pytest

from debezium_emr_hudi_deltastreamer_sample_spark.table import (
    ConcurrentWriterError,
    DeltaLogTable,
    KeyedTable,
    WriterLease,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id int, v string, op string, _lsn long")


def test_second_writer_raises_first_keeps_working(spark, tmp_path):
    path = str(tmp_path / "t")
    w1 = KeyedTable(spark, path, keys=["id"], writer_id="w1")
    w1.upsert(_mk(spark, [(1, "a", "c", 1)]))

    w2 = KeyedTable(spark, path, keys=["id"], writer_id="w2")
    with pytest.raises(ConcurrentWriterError, match="owned by writer 'w1'"):
        w2.upsert(_mk(spark, [(1, "b", "u", 2)]))

    # The refused write touched nothing; the owner continues normally.
    assert {(r.id, r.v) for r in w1.read().select("id", "v").collect()} == {(1, "a")}
    w1.upsert(_mk(spark, [(2, "c", "c", 3)]))
    assert {r.id for r in w1.read().collect()} == {1, 2}


def test_same_writer_id_many_instances_share_the_lease(spark, tmp_path):
    """foreachBatch constructs a fresh table object per micro-batch — all
    instances of one logical writer (same id, the per-process default in
    production) must share the lease with no epoch churn."""
    path = str(tmp_path / "t")
    for i in range(3):
        KeyedTable(spark, path, keys=["id"], writer_id="pipe").upsert(
            _mk(spark, [(i, f"v{i}", "c", i)])
        )
    t = KeyedTable(spark, path, keys=["id"], writer_id="pipe")
    assert {r.id for r in t.read().collect()} == {0, 1, 2}
    # One epoch claimed, ever: no churn on the stable hot path.
    assert len(t._lease._log.entries()) == 1


def test_take_over_fences_the_old_writer(spark, tmp_path):
    path = str(tmp_path / "t")
    w1 = KeyedTable(spark, path, keys=["id"], writer_id="w1")
    w1.upsert(_mk(spark, [(1, "a", "c", 1)]))

    w2 = KeyedTable(spark, path, keys=["id"], writer_id="w2", take_over=True)
    w2.upsert(_mk(spark, [(1, "b", "u", 2)]))  # claims epoch 1, fences w1

    with pytest.raises(ConcurrentWriterError, match="owned by writer 'w2'"):
        w1.upsert(_mk(spark, [(1, "z", "u", 3)]))
    # Table state is the new owner's merge; the fenced write never landed.
    assert {(r.id, r.v) for r in w2.read().select("id", "v").collect()} == {(1, "b")}


def test_mor_append_guarded_compact_is_not(spark, tmp_path):
    """append_changes (ingest) is lease-guarded; compact() is a table
    service — an out-of-process compactor is a legitimate deployment and
    its own CAS already makes races safe."""
    path = str(tmp_path / "mor")
    w1 = DeltaLogTable(spark, path, keys=["id"], writer_id="w1")
    w1.append_changes(_mk(spark, [(1, "a", "c", 1)]), 0)

    w2 = DeltaLogTable(spark, path, keys=["id"], writer_id="w2")
    with pytest.raises(ConcurrentWriterError):
        w2.append_changes(_mk(spark, [(1, "b", "u", 2)]), 1)

    w2.compact()  # foreign-process compaction service: allowed
    assert w2.base_versions() == [0]
    assert {(r.id, r.v) for r in w1.read().select("id", "v").collect()} == {(1, "a")}


def test_post_write_check_detects_mid_commit_takeover(spark, tmp_path):
    """A takeover landing while the old writer's commit is in flight: the
    post-write fencing probe raises, so the fenced pipeline dies loudly
    instead of continuing to publish over the new owner."""
    path = str(tmp_path / "t")
    w1 = KeyedTable(spark, path, keys=["id"], writer_id="w1")
    w1.upsert(_mk(spark, [(1, "a", "c", 1)]))

    class MidCommitTakeover(KeyedTable):
        def _write(self, df, parts=None, *, reads_table=False):
            self._lease.ensure(self.take_over)
            df_writer = df.write.mode("overwrite")
            df_writer.parquet(self.path)
            # Takeover lands between the data write and the post-check.
            WriterLease(self.spark, self.path, "usurper").ensure(take_over=True)
            self._lease.check()

    victim = MidCommitTakeover(spark, path, keys=["id"], writer_id="w1")
    with pytest.raises(ConcurrentWriterError, match="fenced during a commit"):
        victim.upsert(_mk(spark, [(1, "b", "u", 2)]))


def test_lease_survives_protocol_pointer(spark, tmp_path, monkeypatch):
    """The lease rides the commit-CAS seam, so it must hold under the
    object-store pointer protocol too."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    path = str(tmp_path / "t")
    w1 = KeyedTable(spark, path, keys=["id"], writer_id="w1")
    w1.upsert(_mk(spark, [(1, "a", "c", 1)]))
    with pytest.raises(ConcurrentWriterError):
        KeyedTable(spark, path, keys=["id"], writer_id="w2").upsert(
            _mk(spark, [(1, "b", "u", 2)])
        )
    w1.upsert(_mk(spark, [(2, "b", "c", 2)]))
    assert {r.id for r in w1.read().collect()} == {1, 2}


def test_interleaved_writers_loser_raises_table_matches_winner(spark, tmp_path):
    """The verdict's done-criterion shape, deterministic form: two writers
    interleave upserts on one table; every loser attempt raises and the
    final table equals replaying ONLY the committed (winner) batches."""
    path = str(tmp_path / "t")
    committed = []

    def apply(writer_id, take_over, rows):
        t = KeyedTable(
            spark, path, keys=["id"], writer_id=writer_id, take_over=take_over
        )
        t.upsert(_mk(spark, rows))
        committed.append(rows)

    apply("w1", False, [(1, "a", "c", 1)])
    apply("w1", False, [(2, "b", "c", 2)])
    with pytest.raises(ConcurrentWriterError):
        apply("w2", False, [(1, "X", "u", 3)])  # loser: raises, no effect
    apply("w2", True, [(3, "c", "c", 4)])  # explicit takeover: new owner
    with pytest.raises(ConcurrentWriterError):
        apply("w1", False, [(2, "Y", "u", 5)])  # fenced old owner: raises

    # Oracle: replay only the committed batches latest-wins.
    state = {}
    for rows in committed:
        for rid, v, op, _ in rows:
            if op == "d":
                state.pop(rid, None)
            else:
                state[rid] = v
    final = KeyedTable(spark, path, keys=["id"], writer_id="w2")
    got = {(r.id, r.v) for r in final.read().select("id", "v").collect()}
    assert got == set(state.items())


def test_burned_epoch_claim_raises_then_take_over_recovers(
    spark, tmp_path, monkeypatch
):
    """A takeover that crashed between pointer claim and fill leaves a
    permanently unresolved newest epoch. The legitimate owner must not
    race it (it is indistinguishable from an in-flight acquire for a few
    listings) — after the stall budget it raises with take_over guidance;
    take_over=True claims past the burned name and the pipeline resumes."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    path = str(tmp_path / "t")
    w1 = KeyedTable(spark, path, keys=["id"], writer_id="w1")
    w1.upsert(_mk(spark, [(1, "a", "c", 1)]))
    # Burn the next epoch name: claim without fill (the crash window).
    fs, hpath = w1._lease._log.fs()
    fs.createNewFile(hpath(f"{w1._lease.dir}/e000000000001.commit"))
    with pytest.raises(ConcurrentWriterError, match="take_over=True"):
        w1.upsert(_mk(spark, [(2, "b", "c", 2)]))
    w2 = KeyedTable(spark, path, keys=["id"], writer_id="w1", take_over=True)
    w2.upsert(_mk(spark, [(2, "b", "c", 2)]))
    assert {r.id for r in w2.read().collect()} == {1, 2}
    assert w2._lease._log.entries()[-1].seq == 2
