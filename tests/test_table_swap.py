"""Crash windows of a KeyedTable commit, deterministic and thread-free.

A commit writes its data once into a new directory
(``{path}/_data/_v=<id>``), stages its version manifest, publishes the
version with one CAS (``fsutil.swap_table_dir``, a name kept from the
stage-and-swap layout this replaced) and then sweeps the data
directories no retained version references (``fsutil.recover_table_swap``).
Kills are injected at each step, under both commit protocols: the
served table is always one whole version, and at-least-once redelivery
converges on the no-crash state (the invariant tools/fuzz_cdc.py's
crash lane checks at whole-call granularity)."""

from __future__ import annotations

import os

import pytest

from debezium_emr_hudi_deltastreamer_sample_spark import fsutil
from debezium_emr_hudi_deltastreamer_sample_spark.table import (
    ConcurrentWriterError,
    KeyedTable,
)

PROTOCOLS = ["rename", "pointer"]


class _Kill(RuntimeError):
    """Simulated process death inside the commit."""


def _table(spark, path, **kw):
    return KeyedTable(
        spark, str(path), keys=["id"], ordering=["_lsn"], op_col="op", **kw
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id int, v string, _lsn int, op string")


def _state(t):
    return sorted((r.id, r.v) for r in t.read().select("id", "v").collect())


def _data_dirs(path):
    data = f"{path}/_data"
    return set(os.listdir(data)) if os.path.isdir(data) else set()


def _kill_in(monkeypatch, name, after=False):
    """Make ``fsutil.<name>`` die, before its work or after it."""
    real = getattr(fsutil, name)

    def boom(*args, **kwargs):
        if after:
            real(*args, **kwargs)
        raise _Kill(name)

    monkeypatch.setattr(fsutil, name, boom)


def _kill_before_cas(monkeypatch):
    """Die inside the publish after the manifest is staged, before the
    CAS: the version log never sees the commit."""
    real_publish = fsutil.CommitLog.publish

    def boom(self, *args, **kwargs):
        if self.dir.endswith("/_versions"):
            raise _Kill("before the CAS")
        return real_publish(self, *args, **kwargs)

    monkeypatch.setattr(fsutil.CommitLog, "publish", boom)


B1 = [(1, "a", 1, "u"), (2, "b", 2, "u")]
B2 = [(2, "B", 3, "u"), (3, "c", 4, "u")]
AFTER_B2 = [(1, "a"), (2, "B"), (3, "c")]

#: The three kill points, under the ids of the swap windows they replace:
#: after the data write (the old journal point: the new data is complete
#: and nothing is visible), after the manifest is staged and before the
#: CAS (the old point between the two renames), and after the publish
#: and before the sweep (the old point before the swap's cleanup).
SEAMS = ["_test_after_journal", "_test_after_retire", "_test_after_publish"]


@pytest.mark.parametrize("seam", SEAMS)
def test_swap_crash_heals_and_redelivery_converges(spark, tmp_path, seam):
    """Under both protocols: a kill before the publish serves the old
    version and leaves one orphan data dir, which the redelivered commit's
    sweep deletes; a kill after the publish serves the new version, and
    the next commit sweeps what the killed one left. No retired copy or
    journal exists to heal, and readers repair nothing."""
    for protocol in PROTOCOLS:
        with pytest.MonkeyPatch.context() as mp:
            mp.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
            path = tmp_path / protocol
            t = _table(spark, path)
            t.upsert(_batch(spark, B1))
            before, before_dirs = _state(t), _data_dirs(path)
            with pytest.MonkeyPatch.context() as kill:
                if seam == "_test_after_journal":
                    _kill_in(kill, "swap_table_dir")
                elif seam == "_test_after_retire":
                    _kill_before_cas(kill)
                else:
                    _kill_in(kill, "recover_table_swap")
                with pytest.raises(_Kill):
                    t.upsert(_batch(spark, B2))
            t2 = _table(spark, path)  # a fresh process
            assert t2.exists()
            left = _data_dirs(path) - before_dirs
            assert len(left) == 1
            if seam == "_test_after_publish":
                assert _state(t2) == AFTER_B2
                t2.upsert(_batch(spark, [(4, "d", 5, "u")]))
                assert _state(t2) == AFTER_B2 + [(4, "d")]
                # Retention keeps two versions: the killed commit's and the
                # new one; the sweep removed the first version's data.
                assert len(_data_dirs(path)) == 2 and left <= _data_dirs(path)
            else:
                assert _state(t2) == before
                t2.upsert(_batch(spark, B2))  # at-least-once redelivery
                assert _state(t2) == AFTER_B2
                assert not left & _data_dirs(path)  # the orphan was swept
                assert len(_data_dirs(path)) == 2


@pytest.mark.parametrize("protocol", PROTOCOLS)
def test_reader_between_swap_renames_never_mutates(
    spark, tmp_path, monkeypatch, protocol
):
    """Readers never mutate table state: a reader that runs while a
    commit is in flight (its data written, its version not yet
    published) reads the previous version, and every data directory —
    the writer's new one included — is left alone. The commit then
    publishes exactly its rows."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    path = str(tmp_path / "t")
    seen = {}

    class Watched(KeyedTable):
        def _write_data(self, df, data_dir):
            super()._write_data(df, data_dir)
            if not os.path.isdir(f"{path}/_versions"):
                return  # the first commit: nothing to read yet
            dirs = _data_dirs(path)
            r = _table(spark, path, keep_history=5)
            seen["exists"] = r.exists()
            seen["rows"] = _state(r)
            seen["snapshots"] = [s for s, _ in r.snapshots()]
            seen["untouched"] = _data_dirs(path) == dirs

    t = Watched(spark, path, keys=["id"], ordering=["_lsn"], op_col="op")
    t.init(spark.createDataFrame([(1, "a")], "id int, v string"))
    t.upsert(_batch(spark, [(2, "b", 1, "u")]))
    assert seen == {
        "exists": True, "rows": [(1, "a")], "snapshots": [0], "untouched": True,
    }
    assert _state(_table(spark, path)) == [(1, "a"), (2, "b")]


def test_swap_refuses_externally_recreated_target(spark, tmp_path):
    """A publish whose base version is stale raises and leaves the tip
    unchanged: here another commit lands on the table between this
    commit's merge (which read version 0) and its publish, claiming the
    name this publish targets. The stale merge is never published, and
    no later version references its data dir (a commit that began after
    that dir was written sweeps it)."""
    path = str(tmp_path / "t")
    _table(spark, path).upsert(_batch(spark, B1))
    fired = []

    class Raced(KeyedTable):
        def _write_data(self, df, data_dir):
            super()._write_data(df, data_dir)
            if not fired:
                fired.append(data_dir)
                _table(spark, path).upsert(_batch(spark, [(1, "A", 9, "u")]))

    stale = Raced(spark, path, keys=["id"], ordering=["_lsn"], op_col="op")
    with pytest.raises(ConcurrentWriterError, match="moved past the version"):
        stale.upsert(_batch(spark, B2))
    t = _table(spark, path, keep_history=5)
    assert _state(t) == [(1, "A"), (2, "b")]
    assert [s for s, _ in t.snapshots()] == [0, 1]
    orphan = fired[0].rsplit("/", 1)[1]
    t.upsert(_batch(spark, B2))  # redelivery on the new tip
    assert _state(t) == [(1, "A"), (2, "B"), (3, "c")]
    assert orphan not in _data_dirs(path)


@pytest.mark.parametrize("protocol", PROTOCOLS)
def test_snapshots_skip_an_entry_off_the_tip_chain(spark, tmp_path, monkeypatch, protocol):
    """Time travel follows the parent chain. A stale publish whose name
    was free (retention removed a never-published claim) wins the CAS
    below the tip; ``CommitLog`` reports it lost but keeps it inside its
    ``keep`` window. It is not on the tip's chain, so ``snapshots()``
    skips it and ``read(as_of=…)`` refuses it."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    path = str(tmp_path / "t")
    t = _table(spark, path, keep_history=5)
    t.upsert(_batch(spark, B1))  # version 0
    fs, hpath = fsutil.hadoop_fs(spark, path)
    fs.createNewFile(hpath(f"{path}/_versions/s000000000001.commit"))  # burned
    t.upsert(_batch(spark, B2))  # version 2, parent 0; retention drops s1
    v0 = t._log.entries()[0]
    orphan = {
        "id": "feedface", "schema": t.read().schema.jsonValue(),
        "dirs": t._tip()[1].dirs, "parent": [v0.name, t._version(v0).id], "whole": [],
    }
    import json

    stage = f"{path}/_data/_v=feedface/_version_feedface"
    assert not fsutil.swap_table_dir(t._log, [v0], stage, json.dumps(orphan), 5)
    assert [c.seq for c in t._log.entries() if c.uri] == [0, 1, 2]
    assert [s for s, _ in t.snapshots()] == [0, 2]
    with pytest.raises(FileNotFoundError):
        t.read(as_of=1)
    assert sorted((r.id, r.v) for r in t.read(as_of=2).collect()) == AFTER_B2


class _Blip(OSError):
    """An injected FileSystem failure that is not a not-found."""


class _BlipFs:
    """A FileSystem whose ``op`` fails on every path ``hit`` matches."""

    def __init__(self, fs, op, hit):
        self._fs, self._op, self._hit = fs, op, hit

    def __getattr__(self, name):
        real = getattr(self._fs, name)
        if name != self._op:
            return real

        def call(p, *args):
            if self._hit(str(p)):
                raise _Blip(f"injected {name} failure on {p}")
            return real(p, *args)

        return call


@pytest.mark.parametrize("fault", ["read-tip", "list-log"])
@pytest.mark.parametrize("protocol", PROTOCOLS)
def test_unreadable_version_log_refuses_the_commit(spark, tmp_path, monkeypatch, protocol, fault):
    """A version log that cannot be read is never taken for a shorter
    one. With the tip's pointer (pointer) or manifest (rename) unreadable,
    or the log's listing failing, ``upsert`` and ``exists()`` raise; the
    commit writes, publishes and deletes nothing, and once the store
    recovers the tip is intact and the batch applies on it. Read as "no
    tip", the commit would merge on the version below, win the next name
    and sweep the skipped version's data."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    path = str(tmp_path / "t")
    t = _table(spark, path)
    t.upsert(_batch(spark, B1))
    t.upsert(_batch(spark, B2))  # the tip: s000000000001
    names, dirs = [c.name for c in t._log.entries()], _data_dirs(path)
    if fault == "read-tip":
        op, hit = "open", lambda p: "/_versions/s000000000001" in p
    else:
        op, hit = "listStatus", lambda p: p.endswith("/_versions")
    real = fsutil.hadoop_fs

    def blipping(spark_, p):
        fs, hpath = real(spark_, p)
        return _BlipFs(fs, op, hit), hpath

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fsutil, "hadoop_fs", blipping)
        with pytest.raises(_Blip):
            t.exists()
        with pytest.raises(_Blip):
            t.upsert(_batch(spark, [(1, "X", 9, "u")]))
    assert [c.name for c in t._log.entries()] == names
    assert _data_dirs(path) == dirs
    assert _state(t) == AFTER_B2
    t.upsert(_batch(spark, [(1, "X", 9, "u")]))
    assert _state(t) == [(1, "X"), (2, "B"), (3, "c")]


def test_linked_snapshots_survive_rewrites_and_retention(spark, tmp_path):
    """Time travel across rewrites: every upsert and the compaction
    publish a version, retention keeps the newest ``keep_history``, and
    each surviving as-of read serves exactly its commit's rows (the files
    of older versions are never rewritten)."""
    path = tmp_path / "t"
    t = _table(spark, path, keep_history=2)
    t.upsert(_batch(spark, [(1, "a", 1, "u"), (2, "b", 2, "u")]))
    t.upsert(_batch(spark, [(2, "B", 3, "u")]))
    t.upsert(_batch(spark, [(1, None, 4, "d"), (3, "c", 5, "u")]))
    as_of_2 = sorted(
        (r.id, r.v) for r in t.read(as_of=2).select("id", "v").collect()
    )
    t.compact(target_partitions=1)
    assert [s for s, _ in t.snapshots()] == [2, 3]  # retention dropped 0, 1
    assert as_of_2 == [(2, "B"), (3, "c")]
    for seq in (2, 3):
        assert sorted(
            (r.id, r.v) for r in t.read(as_of=seq).select("id", "v").collect()
        ) == as_of_2
    with pytest.raises(FileNotFoundError):
        t.read(as_of=1)


def test_parquet_data_exists_external_suffixless_files(spark, tmp_path):
    """ADVICE r12: a table dir populated by an EXTERNAL writer whose
    parquet files lack the .parquet suffix must not read as missing (that
    verdict routes upsert to bootstrap-overwrite — silent wipe). The probe
    falls back to the reader, which keeps the narrow contract."""
    from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
        parquet_data_exists,
    )

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    ext = tmp_path / "ext"
    ext.mkdir()
    n = 0
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.link(os.path.join(src, f), str(ext / f"data-{n}"))  # no suffix
            n += 1
    assert n > 0
    assert parquet_data_exists(spark, str(ext)) is True

    # Visible non-parquet junk: the reader probe decides (raises loudly
    # rather than silently mapping to missing).
    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "data.txt").write_text("not parquet at all")
    with pytest.raises(Exception):
        parquet_data_exists(spark, str(junk))


def test_blocked_exact_pairs_tolerate_null_ids_and_vectors(spark):
    """ADVICE r12: the block-pair cosine kernel must DROP null-id /
    null-vector rows (matching the historical broadcast form, where they
    fell out of the join condition / null sim) instead of raising from
    np.int64 packing."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (None, [1.0, 0.0, 0.0]),  # null id: must never pair
        (4, None),  # null vector: must never pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = sorted(
        (r.aid, r.bid)
        for r in embedding_neardup_pairs(
            df, threshold=0.9, approx=False
        ).collect()
    )
    assert pairs == [(1, 2)]


def test_scd2_feed_cache_regenerates_on_truncated_file(spark, sf_tiny):
    """ADVICE r12: a cache hit whose staged tercile files were deleted or
    truncated (tmp cleaner) must regenerate, not replay a partial feed."""
    import os

    from debezium_emr_hudi_deltastreamer_sample_spark.queries import (
        streaming as qstreaming,
    )

    qstreaming._SCD2_FEED_CACHE.clear()
    src1 = qstreaming._scd2_feed(spark, sf_tiny)
    files = sorted(os.listdir(src1))
    assert files, "feed should stage at least one tercile file"
    # Unmolested hit: same dir comes back.
    assert qstreaming._scd2_feed(spark, sf_tiny) == src1
    # Truncate one staged file: the hit must be rejected and regenerated.
    victim = os.path.join(src1, files[0])
    with open(victim, "w") as fh:
        fh.write("")
    src2 = qstreaming._scd2_feed(spark, sf_tiny)
    assert src2 != src1
    assert sorted(os.listdir(src2)) == files
    sizes = {f: os.path.getsize(os.path.join(src2, f)) for f in files}
    assert all(s > 0 for s in sizes.values())
    qstreaming._SCD2_FEED_CACHE.clear()
