"""Round-11 durability fixes, pinned.

1. ``fsutil.pointer_commit`` claim+fill is ONE atomic operation (local:
   hard-link; object stores: conditional create-with-content) — no
   visible-but-unresolved pointer window for live writers.
2. Stores that cannot do an atomic pointer CAS are REFUSED loudly
   (``_require_conditional_create``), never silently degraded.
3. A never-published claim (empty pointer) is skipped for merges and
   counted for allocation — the rollup keeps building on the published
   tip.
4. ``take_over`` is consumed once — two live take_over writers fence each
   other loudly instead of ping-ponging epochs with silent lost updates.
5. Snapshot retention windows over RESOLVED snapshots; burned pointer
   names are GC'd instead of displacing readable history.
6. ``_LEASE_OWNER_CACHE`` is FIFO-bounded.
7. Tables constructed inside ``start_pipeline`` derive their writer id
   from the CHECKPOINT location (cross-process restart re-owns its epoch;
   see tests/test_cross_process.py for the real two-process pin).
"""

from __future__ import annotations

import os
import threading

import pytest

from debezium_emr_hudi_deltastreamer_sample_spark import table as table_mod
from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
    _local_os_path,
    _require_conditional_create,
    hadoop_fs,
    list_commits,
    pointer_commit,
)
from debezium_emr_hudi_deltastreamer_sample_spark.table import (
    ConcurrentWriterError,
    KeyedTable,
    WriterLease,
    pipeline_writer_scope,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id int, v string, op string, _lsn long")


# ---------------------------------------------------- 1. atomic pointer CAS


def test_local_os_path_forms():
    assert _local_os_path("/a/b") == "/a/b"
    assert _local_os_path("file:/a/b") == "/a/b"
    assert _local_os_path("file:///a/b") == "/a/b"
    assert _local_os_path("file://localhost/a/b") == "/a/b"
    assert _local_os_path("file://otherhost/a/b") is None
    assert _local_os_path("s3a://bucket/a") is None
    assert _local_os_path("hdfs://nn/a") is None


def test_pointer_commit_never_visible_unresolved(spark, tmp_path):
    """The ADVICE-high regression class: with the two-step claim+fill, a
    pointer was visible-but-empty between createNewFile and the content
    write. The atomic form must NEVER expose an empty pointer: a watcher
    polling the pointer at OS level sees it either absent or fully
    written, across many racing rounds."""
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    violations: list[str] = []
    stop = threading.Event()

    def watch(ptr_os_path: str) -> None:
        while not stop.is_set():
            try:
                if os.path.exists(ptr_os_path) and os.path.getsize(ptr_os_path) == 0:
                    violations.append(ptr_os_path)
                    return
            except OSError:
                pass

    for rnd in range(20):
        commits = f"{root}/commits{rnd}"
        fs.mkdirs(hpath(commits))
        stages = []
        for w in range(4):
            stage = f"{root}/stage{rnd}_{w}"
            fs.mkdirs(hpath(stage))
            stages.append(stage)
        target = f"{commits}/c0"
        stop.clear()
        watcher = threading.Thread(target=watch, args=(f"{target}.commit",))
        watcher.start()
        wins = []
        threads = [
            threading.Thread(
                target=lambda s=s: wins.append(pointer_commit(fs, hpath, s, target))
            )
            for s in stages
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        stop.set()
        watcher.join()
        assert sum(wins) == 1, f"round {rnd}: {wins}"
        [(name, content)] = list_commits(fs, hpath, spark, commits)
        assert name == "c0" and content in stages
        # No temp-fill droppings left next to the pointer.
        leftovers = [
            f for f in os.listdir(commits) if ".fill" in f and f.endswith(".tmp")
        ]
        assert leftovers == []
    assert violations == []


class _FakeConf:
    def __init__(self, flags):
        self._flags = flags

    def getBoolean(self, key, default):
        return self._flags.get(key, default)


class _FakeFS:
    def __init__(self, uri, caps=(), flags=None):
        self._uri, self._caps = uri, set(caps)
        self._conf = _FakeConf(flags or {})

    def getUri(self):
        return self._uri

    def hasPathCapability(self, _path, cap):
        return cap in self._caps

    def getConf(self):
        return self._conf


def test_require_conditional_create_refuses_and_accepts():
    import debezium_emr_hudi_deltastreamer_sample_spark.fsutil as fsutil

    hp = lambda p: p  # noqa: E731 — capability probe only stringifies
    # No capability, no config flag: refuse loudly.
    fsutil._CONDITIONAL_CREATE_OK.clear()
    with pytest.raises(RuntimeError, match="conditional create"):
        _require_conditional_create(
            _FakeFS("s3a://bucket-a"), hp, "s3a://bucket-a/t/c0.commit"
        )
    # Capability present: pass (and memoized per fs URI).
    _require_conditional_create(
        _FakeFS("s3a://bucket-b", caps={"fs.capability.conditional.create"}),
        hp,
        "s3a://bucket-b/t/c0.commit",
    )
    # Config-flag fallback (older probe surface) also passes.
    _require_conditional_create(
        _FakeFS(
            "s3a://bucket-c",
            flags={"fs.s3a.create.conditional.enabled": True},
        ),
        hp,
        "s3a://bucket-c/t/c0.commit",
    )
    # Non-object-store schemes pass unconditionally (their claim is an
    # atomic namenode rename of an already-filled file).
    _require_conditional_create(_FakeFS("hdfs://nn"), hp, "hdfs://nn/t/c0.commit")
    fsutil._CONDITIONAL_CREATE_OK.clear()


# --------------------------------------- 3. never-published claims (rollup)


def _rollup(spark, path):
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    return IncrementalRollup(
        spark, path, ts_col="ts", bucket="1 hour", keys=["k"], value_col="v"
    )


def _events(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, k string, v double")


def test_rollup_burned_claim_waited_out_once_then_skipped(
    spark, tmp_path, monkeypatch
):
    """A claim that never resolves (crashed legacy filler) must not wedge
    the publisher: it is skipped for merges and counted for allocation."""
    import datetime as dt

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    path = str(tmp_path / "rollup")
    r = _rollup(spark, path)
    ts = dt.datetime(2024, 1, 1, 0, 30)
    r.apply_batch(_events(spark, [(ts, "k1", 1.0)]), batch_id=0)  # c0
    fs, hpath = r._hadoop()
    fs.createNewFile(hpath(f"{r._commits_dir()}/c000000000001.commit"))  # burned
    r.apply_batch(_events(spark, [(ts, "k1", 2.0)]), batch_id=1)
    # Allocation skipped the burned name: c2 is the new tip.
    names = sorted(
        n for n, u in list_commits(fs, hpath, spark, r._commits_dir()) if u
    )
    assert names[-1] == "c000000000002"
    got = {(row.k, row.total) for row in r.read().select("k", "total").collect()}
    assert got == {("k1", 3.0)}
    r.apply_batch(_events(spark, [(ts, "k1", 4.0)]), batch_id=2)
    got = {(row.k, row.total) for row in r.read().select("k", "total").collect()}
    assert got == {("k1", 7.0)}


# -------------------------------------------- 4. take_over consumed once


def test_take_over_consumed_once_no_epoch_ping_pong(spark, tmp_path):
    """Two LIVE writers both constructed with take_over=True: each takes
    over once, then is fenced like any other writer — previously they
    re-took the epoch before every write and interleaved silently."""
    path = str(tmp_path / "t")
    w1 = KeyedTable(spark, path, keys=["id"], writer_id="w1", take_over=True)
    w1.upsert(_mk(spark, [(1, "a", "c", 1)]))
    w2 = KeyedTable(spark, path, keys=["id"], writer_id="w2", take_over=True)
    w2.upsert(_mk(spark, [(2, "b", "c", 2)]))  # takeover: fences w1
    with pytest.raises(ConcurrentWriterError):
        w1.upsert(_mk(spark, [(1, "X", "u", 3)]))  # consumed: fenced, raises
    with pytest.raises(ConcurrentWriterError):
        w1.init(_mk(spark, [(9, "z", "c", 9)]))  # still consumed on init path
    got = {(r.id, r.v) for r in w2.read().select("id", "v").collect()}
    assert got == {(1, "a"), (2, "b")}


def test_mor_take_over_consumed_once(spark, tmp_path):
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    path = str(tmp_path / "mor")
    w1 = DeltaLogTable(spark, path, keys=["id"], writer_id="w1", take_over=True)
    w1.append_changes(_mk(spark, [(1, "a", "c", 1)]), 0)
    w2 = DeltaLogTable(spark, path, keys=["id"], writer_id="w2", take_over=True)
    w2.append_changes(_mk(spark, [(2, "b", "c", 2)]), 1)
    with pytest.raises(ConcurrentWriterError):
        w1.append_changes(_mk(spark, [(1, "X", "u", 3)]), 2)


# ------------------------- 5. snapshot retention over resolved commits only


def test_snapshot_retention_burned_name_does_not_displace_history(
    spark, tmp_path, monkeypatch
):
    """keep_history=2 with a burned newest claim: retention must retain TWO
    readable snapshots (the burned name is GC'd), not one readable plus
    the burned name."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], op_col=None, keep_history=2
    )
    t.init(spark.createDataFrame([(1, "a", 1)], "id int, v string, _lsn long"))
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    burned = f"{tmp_path}/t/_versions/s000000000001.commit"
    fs.createNewFile(hpath(burned))
    t.upsert(spark.createDataFrame([(2, "b", 2)], "id int, v string, _lsn long"))
    # Two READABLE snapshots retained; the burned pointer name was GC'd.
    assert [s for s, _ in t.snapshots()] == [0, 2]
    assert not fs.exists(hpath(burned))
    assert {r.id for r in t.read(as_of=0).collect()} == {1}
    assert {r.id for r in t.read(as_of=2).collect()} == {1, 2}


# ----------------------------------------------- 6. lease owner cache bound


def test_lease_owner_cache_fifo_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(table_mod, "_LEASE_OWNER_CACHE_MAX", 4)
    table_mod._LEASE_OWNER_CACHE.clear()
    for i in range(7):
        path = str(tmp_path / f"t{i}")
        WriterLease(spark, path, "w").ensure()  # claims e0 (no owner read)
        WriterLease(spark, path, "w").ensure()  # resolves + caches the owner
    assert len(table_mod._LEASE_OWNER_CACHE) <= 4
    table_mod._LEASE_OWNER_CACHE.clear()


# ---------------------------------- 7. checkpoint-scoped writer id (in-proc)


def test_pipeline_writer_scope_sets_default_identity(spark, tmp_path):
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        checkpoint_writer_id,
    )

    wid = checkpoint_writer_id("/ckpt/x")
    assert wid == checkpoint_writer_id("/ckpt/x/")  # trailing slash normalized
    assert wid != checkpoint_writer_id("/ckpt/y")
    with pipeline_writer_scope(wid):
        t = KeyedTable(spark, str(tmp_path / "t"), keys=["id"])
        assert t._lease.writer_id == wid
        explicit = KeyedTable(
            spark, str(tmp_path / "t2"), keys=["id"], writer_id="mine"
        )
        assert explicit._lease.writer_id == "mine"
    out = KeyedTable(spark, str(tmp_path / "t3"), keys=["id"])
    assert out._lease.writer_id != wid  # scope ended: process default again


def test_same_checkpoint_second_logical_process_reowns_epoch(spark, tmp_path):
    """In-process shape of the cross-process restart pin (the real two-
    process version lives in tests/test_cross_process.py): two pipeline
    'runs' with the same checkpoint derive the same writer id, so run 2
    re-owns run 1's epoch with NO take_over; a different checkpoint is
    fenced."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        checkpoint_writer_id,
    )

    path = str(tmp_path / "t")
    ck = str(tmp_path / "ckpt")
    with pipeline_writer_scope(checkpoint_writer_id(ck)):
        KeyedTable(spark, path, keys=["id"]).upsert(_mk(spark, [(1, "a", "c", 1)]))
    # "Restart": new table object, same checkpoint-derived identity.
    with pipeline_writer_scope(checkpoint_writer_id(ck)):
        KeyedTable(spark, path, keys=["id"]).upsert(_mk(spark, [(2, "b", "c", 2)]))
    # A DIFFERENT pipeline writing the same table: fenced.
    with pipeline_writer_scope(checkpoint_writer_id(str(tmp_path / "other_ckpt"))):
        with pytest.raises(ConcurrentWriterError):
            KeyedTable(spark, path, keys=["id"]).upsert(
                _mk(spark, [(3, "c", "c", 3)])
            )
    got = {r.id for r in KeyedTable(spark, path, keys=["id"]).read().collect()}
    assert got == {1, 2}
