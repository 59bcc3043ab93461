"""Round-12 durability fixes, pinned.

1. An empty pointer means never published: the rollup skips it for
   merges and reads, allocates past it, and never waits on it.
2. The schema sidecar's retention keeps the newest published predecessor
   and removes never-published pointer names.
3. ``pointer_commit``'s hard-link branch is gated on the RESOLVED
   FileSystem being local (``_fs_is_local``), not on path shape — a
   scheme-less path under a non-local fs.defaultFS falls through to the
   rename CAS of a filled temp file (ADVICE r11 #1, the
   silent-lost-commit shape).
4. ``os.link`` failures other than EEXIST are re-raised loudly naming the
   non-linkable store, not mistaken for a lost CAS (ADVICE r11 #5).
5. ``take_over_if_stale``: opt-in heartbeat/staleness lease self-heal —
   a live (heartbeating) owner is never displaced; a stale one is, under
   both commit protocols (round-11 VERDICT task 3).
6. ``start_pipeline`` records a pid/host owner marker beside the
   checkpoint and warns loudly on a foreign marker (shared-checkpoint
   detection, ADVICE r11 #3).
"""

from __future__ import annotations

import datetime as dt
import errno
import os
import time

import pytest
from pyspark.sql import types as T

from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
    _fs_is_local,
    hadoop_fs,
    list_commits,
    pointer_commit,
)
from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import IncrementalRollup
from debezium_emr_hudi_deltastreamer_sample_spark.table import (
    ConcurrentWriterError,
    KeyedTable,
    SchemaSidecar,
    WriterLease,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, k string, v double")


def _rollup(spark, path, **kw):
    return IncrementalRollup(
        spark, path, ts_col="ts", bucket="1 hour", keys=["k"], value_col="v", **kw
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id int, v string, op string, _lsn long")


# -------------------------------------------- 1+2. never-published pointers


def test_rollup_truly_burned_claim_still_skipped_and_remembered(
    spark, tmp_path, monkeypatch
):
    """A never-published claim (crashed filler) does not stop the rollup:
    it is skipped for merges and counted for allocation, and later
    batches keep building on the published tip."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    path = str(tmp_path / "rollup")
    r = _rollup(spark, path)
    ts = dt.datetime(2024, 1, 1, 0, 30)
    r.apply_batch(_events(spark, [(ts, "k1", 1.0)]), batch_id=0)
    fs, hpath = r._hadoop()
    empty = f"{r._commits_dir()}/c000000000001.commit"
    fs.createNewFile(hpath(empty))
    r.apply_batch(_events(spark, [(ts, "k1", 2.0)]), batch_id=1)
    assert r._log.entries()[-1].seq == 2
    assert not fs.exists(hpath(empty))  # retention removed the empty name
    r.apply_batch(_events(spark, [(ts, "k1", 4.0)]), batch_id=2)
    got = {(row.k, row.total) for row in r.read().select("k", "total").collect()}
    assert got == {("k1", 7.0)}


def test_sidecar_retention_keeps_newest_resolved_predecessor(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 #4: with a never-published tip, retention after the next
    publish must keep the newest RESOLVED predecessor (in-flight readers
    stay valid) and remove the empty pointer name — not retain the
    unreadable tip while deleting the readable predecessor."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    side = SchemaSidecar(spark, str(tmp_path / "t"))
    s0 = T.StructType([T.StructField("a", T.IntegerType())])
    side.publish(s0)  # v0 (resolved)
    fs, hpath = side._log.fs()
    burned = f"{side.dir}/v000000000001.commit"
    fs.createNewFile(hpath(burned))  # v1: claim that never resolves
    side.publish(
        T.StructType(
            [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
        )
    )  # v2
    versions = {c.seq: c.uri for c in side._log.entries(fs, hpath)}
    assert 2 in versions and versions[2] is not None
    assert 0 in versions and versions[0] is not None  # resolved predecessor kept
    assert not fs.exists(hpath(burned))  # burned name GC'd


# ------------------------------------- 3+4. pointer hard-link branch gating


class _ForeignFs:
    """Delegates everything to a real (local) Hadoop FileSystem but
    reports a non-local URI — the resolved-client shape of a scheme-less
    path under fs.defaultFS=hdfs://."""

    def __init__(self, real):
        self._real = real

    def getUri(self):
        return "hdfs://namenode:8020"

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_fs_is_local_gates_on_resolved_client(spark, tmp_path):
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    assert _fs_is_local(fs) is True
    assert _fs_is_local(_ForeignFs(fs)) is False


def test_pointer_commit_foreign_fs_skips_hard_link(spark, tmp_path):
    """A scheme-less path with a NON-local resolved FileSystem must go
    through the rename CAS, not link(2) on the driver's local disk —
    and the commit must be visible through the same client that readers
    use (the ADVICE r11 #1 silent-lost-commit shape)."""
    real_fs, hpath = hadoop_fs(spark, str(tmp_path))
    fs = _ForeignFs(real_fs)
    stage = str(tmp_path / "stage1")
    real_fs.mkdirs(hpath(stage))
    target = str(tmp_path / "commits/c000000000000")
    real_fs.mkdirs(hpath(str(tmp_path / "commits")))
    assert pointer_commit(fs, hpath, stage, target) is True
    # Published THROUGH the FileSystem client: readers resolve it.
    found = dict(list_commits(real_fs, hpath, spark, str(tmp_path / "commits")))
    assert found.get("c000000000000") == stage
    # No hard-link temp siblings were used for the foreign-fs claim.
    assert not [
        p for p in os.listdir(str(tmp_path / "commits")) if ".fill" in p
    ]
    # Same name again: lost CAS.
    assert pointer_commit(fs, hpath, str(tmp_path / "stage2"), target) is False


def test_pointer_commit_foreign_fs_rename_refusal_is_lost_cas(spark, tmp_path):
    """The non-local claim's CAS is the rename of a filled temp file onto
    the pointer name. A rival claiming the name after the exists precheck
    makes HDFS refuse that rename: a lost CAS. The temp file lives in the
    stage, never in the commit directory, and is removed on the loss."""
    real_fs, hpath = hadoop_fs(spark, str(tmp_path))
    renamed = []

    class RefusingFs(_ForeignFs):
        def rename(self, src, dst):
            renamed.append(str(src))
            return False

    stage = str(tmp_path / "stage")
    real_fs.mkdirs(hpath(stage))
    commits = str(tmp_path / "commits")
    real_fs.mkdirs(hpath(commits))
    target = f"{commits}/c000000000000"
    assert pointer_commit(RefusingFs(real_fs), hpath, stage, target) is False
    [src] = renamed
    assert src.removeprefix("file:").startswith(f"{stage}/")
    assert os.listdir(commits) == []
    assert os.listdir(stage) == []


def test_pointer_commit_link_refusal_is_loud(spark, tmp_path, monkeypatch):
    """EEXIST stays a lost CAS; any OTHER link(2) failure (store without
    hard links) raises naming the real cause instead of burning retries."""
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    stage = str(tmp_path / "stage")
    fs.mkdirs(hpath(stage))

    def eexist(src, dst):
        raise FileExistsError(errno.EEXIST, "exists", dst)

    monkeypatch.setattr(os, "link", eexist)
    assert (
        pointer_commit(fs, hpath, stage, str(tmp_path / "commits/a")) is False
    )

    def eperm(src, dst):
        raise OSError(errno.EPERM, "Operation not permitted", dst)

    monkeypatch.setattr(os, "link", eperm)
    with pytest.raises(RuntimeError, match="hard links"):
        pointer_commit(fs, hpath, stage, str(tmp_path / "commits/b"))


# --------------------------------------------------- 6. take_over_if_stale


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_stale_takeover_live_owner_never_displaced(
    spark, tmp_path, monkeypatch, protocol
):
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    monkeypatch.setenv("SPARK_GRAFT_HEARTBEAT_SEC", "0.1")
    path = str(tmp_path / "t")
    a = KeyedTable(spark, path, keys=["id"], writer_id="live-writer")
    a.upsert(_mk(spark, [(1, "x", "c", 1)]))  # claims epoch + heartbeats
    b = KeyedTable(
        spark, path, keys=["id"], writer_id="healer", take_over_if_stale=30.0
    )
    with pytest.raises(ConcurrentWriterError):
        b.upsert(_mk(spark, [(2, "y", "c", 2)]))
    # The live owner keeps committing unharmed.
    a.upsert(_mk(spark, [(3, "z", "c", 3)]))
    assert a.read().count() == 2


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_stale_takeover_fences_dead_owner(spark, tmp_path, monkeypatch, protocol):
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    monkeypatch.setenv("SPARK_GRAFT_HEARTBEAT_SEC", "0.1")
    path = str(tmp_path / "t")
    a = KeyedTable(spark, path, keys=["id"], writer_id="dead-writer")
    a.upsert(_mk(spark, [(1, "x", "c", 1)]))
    time.sleep(0.6)  # no further activity: heartbeat goes stale
    b = KeyedTable(
        spark, path, keys=["id"], writer_id="healer", take_over_if_stale=0.5
    )
    b.upsert(_mk(spark, [(2, "y", "c", 2)]))  # self-heals, claims next epoch
    assert b.read().count() == 2
    with pytest.raises(ConcurrentWriterError):
        a.upsert(_mk(spark, [(3, "z", "c", 3)]))  # dead writer is fenced


def test_stale_takeover_ttl_floor_enforced(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_HEARTBEAT_SEC", "5.0")
    lease = WriterLease(spark, str(tmp_path / "t"), "w")
    with pytest.raises(ValueError, match="heartbeat interval"):
        lease.ensure(take_over_if_stale=1.0)


def test_stale_takeover_falls_back_to_epoch_mtime(spark, tmp_path, monkeypatch):
    """Owner without a heartbeat file (pre-round-12 layout): staleness is
    judged from the epoch owner file's mtime — still self-heals."""
    monkeypatch.setenv("SPARK_GRAFT_HEARTBEAT_SEC", "0.1")
    path = str(tmp_path / "t")
    a = KeyedTable(spark, path, keys=["id"], writer_id="old-layout")
    a.upsert(_mk(spark, [(1, "x", "c", 1)]))
    fs, hpath = a._lease._log.fs()
    fs.delete(hpath(f"{a._lease.dir}/heartbeat"), False)
    time.sleep(0.6)
    b = KeyedTable(
        spark, path, keys=["id"], writer_id="healer", take_over_if_stale=0.5
    )
    b.upsert(_mk(spark, [(2, "y", "c", 2)]))
    assert b.read().count() == 2


def test_stale_takeover_unjudgeable_fails_closed(spark, tmp_path, monkeypatch):
    """No readable timestamp at all (heartbeat gone AND owner-file status
    unreadable) must NOT self-heal: fail toward the loud error."""
    monkeypatch.setenv("SPARK_GRAFT_HEARTBEAT_SEC", "0.1")
    lease = WriterLease(spark, str(tmp_path / "t"), "healer")
    assert (
        lease._owner_stale(*lease._log.fs(), "ghost", None, 0.5) is False
    )


# -------------------------------------------- 7. shared-checkpoint marker


def test_pipeline_owner_marker_written_and_foreign_warned(
    spark, tmp_path, caplog
):
    import logging

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import _note_pipeline_owner

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt, exist_ok=True)
    _note_pipeline_owner(spark, ckpt)
    marker = os.path.join(ckpt, "__engine_owner")
    assert os.path.exists(marker)
    me = open(marker).read().split("\n", 1)[0]
    assert str(os.getpid()) in me
    # Same process again: no warning.
    with caplog.at_level(logging.WARNING):
        _note_pipeline_owner(spark, ckpt)
    assert not [r for r in caplog.records if "owner marker" in r.message]
    # Foreign marker: loud warning, then the marker is reclaimed. (Drop
    # the Hadoop checksum sidecar too — a raw overwrite would otherwise
    # fail the crc check on read and mask the foreign marker.)
    crc = os.path.join(ckpt, ".__engine_owner.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(marker, "w") as fh:
        fh.write("otherhost:1\nstarted=0\n")
    with caplog.at_level(logging.WARNING):
        _note_pipeline_owner(spark, ckpt)
    assert [r for r in caplog.records if "otherhost:1" in str(r.args) or "otherhost:1" in r.getMessage()]
    assert open(marker).read().split("\n", 1)[0] == me
