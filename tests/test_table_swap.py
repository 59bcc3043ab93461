"""Stage-and-swap COW publish (round-13 optimization): deterministic
crash-window coverage for ``fsutil.swap_table_dir`` / ``recover_table_swap``
and the hard-linked snapshot timeline it enables.

The swap replaces checkpoint + in-place overwrite (two full-table
materializations per upsert) with ONE staged write and two atomic renames.
Every crash window between the journal write and the final cleanup is
injected here through the ``_test_after_*`` seams and must heal — roll
FORWARD when the staged table is complete, roll BACK when only the retired
copy survives — with the final state after at-least-once redelivery equal
to the no-crash replay (the same invariant tools/fuzz_cdc.py's crash lane
checks at whole-call granularity)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from debezium_emr_hudi_deltastreamer_sample_spark import fsutil
from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
    recover_table_swap,
    swap_table_dir,
    table_swap_journal,
)
from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable


class _Kill(RuntimeError):
    """Simulated process death inside the swap."""


def _table(spark, path, **kw):
    return KeyedTable(
        spark, str(path), keys=["id"], ordering=["_lsn"], op_col="op", **kw
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id int, v string, _lsn int, op string")


def _state(t):
    return sorted((r.id, r.v) for r in t.read().select("id", "v").collect())


def _swap_killed_at(monkeypatch, seam: str):
    """Route KeyedTable._write's swap through a seam that dies at ``seam``,
    leaving the torn on-disk state a real kill would."""

    def boom():
        raise _Kill(seam)

    real = fsutil.swap_table_dir

    def wrapper(spark, path, stage, **kw):
        return real(spark, path, stage, **{seam: boom})

    monkeypatch.setattr(fsutil, "swap_table_dir", wrapper)


SEAMS = ["_test_after_journal", "_test_after_retire", "_test_after_publish"]


@pytest.mark.parametrize("seam", SEAMS)
def test_swap_crash_heals_and_redelivery_converges(
    spark, tmp_path, monkeypatch, seam
):
    path = tmp_path / "t"
    t = _table(spark, path)
    t.upsert(_batch(spark, [(1, "a", 1, "u"), (2, "b", 2, "u")]))
    before = _state(t)

    b2 = _batch(spark, [(2, "B", 3, "u"), (3, "c", 4, "u")])
    _swap_killed_at(monkeypatch, seam)
    with pytest.raises(_Kill):
        t.upsert(b2)
    monkeypatch.undo()

    # A fresh process (new KeyedTable) reads the torn state READ-ONLY:
    # after-journal serves the OLD table, after-retire the complete stage,
    # after-publish the new table — in every case the table is readable,
    # and the journal is left for the writer. Redelivery (the writer)
    # heals it and converges on the no-crash state.
    t2 = _table(spark, path)
    assert t2.exists()
    healed = _state(t2)
    assert healed in (before, [(1, "a"), (2, "B"), (3, "c")])
    assert os.path.exists(table_swap_journal(str(path)))
    t2.upsert(b2)  # at-least-once redelivery
    assert not os.path.exists(table_swap_journal(str(path)))
    assert _state(t2) == [(1, "a"), (2, "B"), (3, "c")]
    # No retired copies or orphan stages leak past recovery + next publish.
    retire = f"{path}__retire"
    assert not os.path.exists(retire) or os.listdir(retire) == []


def test_swap_crash_between_renames_rolls_forward(spark, tmp_path, monkeypatch):
    """The wipe-hazard window: table dir MISSING, staged table complete.
    exists() must come back True (roll-forward), never route the next
    upsert to bootstrap-overwrite."""
    path = tmp_path / "t"
    t = _table(spark, path)
    t.upsert(_batch(spark, [(1, "a", 1, "u")]))
    _swap_killed_at(monkeypatch, "_test_after_retire")
    with pytest.raises(_Kill):
        t.upsert(_batch(spark, [(2, "b", 2, "u")]))
    monkeypatch.undo()
    assert not os.path.exists(path)  # genuinely torn
    t2 = _table(spark, path)
    assert t2.exists() is True
    assert _state(t2) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_reader_between_swap_renames_never_mutates(
    spark, tmp_path, monkeypatch, protocol
):
    """Readers never mutate table state: a reader that runs between a
    healthy swap's two renames (table dir retired, stage complete,
    journal present) reads the staged table and leaves the writer's
    stage and journal alone. The writer's publish then completes with no
    nested dir and exactly the staged rows. The swap is driven directly
    so the pointer protocol (whose tables never swap) still proves its
    readers resolve a torn swap without repairing it."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    path = str(tmp_path / "t")
    t = _table(spark, path)
    t.init(spark.createDataFrame([(1, "a")], "id int, v string"))
    stage = f"{path}__stage/feedface"
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").write.parquet(
        stage
    )
    journal = table_swap_journal(path)
    seen = {}

    def reader():
        r = _table(spark, path)
        seen["exists"] = r.exists()
        seen["rows"] = _state(r)
        seen["stage"] = os.path.isdir(stage)
        seen["journal"] = os.path.exists(journal)
        seen["table"] = os.path.exists(path)

    swap_table_dir(spark, path, stage, _test_after_retire=reader)
    assert seen == {
        "exists": True, "rows": [(1, "a"), (2, "b")], "stage": True,
        "journal": True, "table": False,
    }
    assert not os.path.exists(journal)
    assert not [d for d in os.listdir(path) if os.path.isdir(f"{path}/{d}")]
    assert _state(_table(spark, path)) == [(1, "a"), (2, "b")]


def test_recover_rolls_back_when_only_retire_survives(spark, tmp_path):
    """Pathological shape (stage lost after the retire rename): recovery
    must restore the retired copy rather than leave no table."""
    path = str(tmp_path / "t")
    spark.range(3).selectExpr("id", "'x' v").write.parquet(path)
    retire = f"{path}__retire/deadbeef"
    os.makedirs(f"{path}__retire")
    os.rename(path, retire)
    with open(table_swap_journal(path), "w") as fh:
        json.dump({"stage": f"{path}__stage/gone", "retire": retire}, fh)
    recover_table_swap(spark, path)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [0, 1, 2]
    assert not os.path.exists(table_swap_journal(path))


def test_recover_unparseable_journal(spark, tmp_path):
    """Half-written journal (crash mid-journal-write): no rename ever
    happened — the table is intact and the journal is dropped. With the
    table MISSING too, recovery refuses to guess."""
    path = str(tmp_path / "t")
    spark.range(2).write.parquet(path)
    with open(table_swap_journal(path), "w") as fh:
        fh.write('{"stage": "/tru')  # torn
    recover_table_swap(spark, path)
    assert not os.path.exists(table_swap_journal(path))
    assert spark.read.parquet(path).count() == 2

    gone = str(tmp_path / "gone")
    with open(table_swap_journal(gone), "w") as fh:
        fh.write("garbage")
    with pytest.raises(RuntimeError, match="torn table swap"):
        recover_table_swap(spark, gone)


def test_swap_refuses_externally_recreated_target(spark, tmp_path):
    """A writer outside the lease recreating the table dir (non-empty)
    mid-swap must abort the publish loudly — LocalFileSystem would
    otherwise nest the stage INSIDE the recreated dir and serve a
    half-table. (An EMPTY recreated dir is replaced by POSIX rename(2) —
    the swap wins cleanly; only the non-empty case is a conflict.)"""
    path = str(tmp_path / "t")
    spark.range(2).write.parquet(path)
    stage = f"{path}__stage/abc123"
    spark.range(5).write.parquet(stage)

    def recreate():
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "intruder.parquet"), "w") as fh:
            fh.write("x")

    with pytest.raises(RuntimeError, match="outside the lease") as err:
        swap_table_dir(spark, path, stage, _test_after_retire=recreate)
    # The recreated dir must not contain the nested stage.
    assert not os.path.exists(f"{path}/abc123")
    # The journal is gone, so the error is the only pointer to the retired
    # pre-swap table — which must still exist and hold the pre-swap rows.
    retire = str(err.value).rsplit("kept at ", 1)[1]
    assert retire.startswith(f"{path}__retire/") and os.path.isdir(retire)
    assert sorted(r.id for r in spark.read.parquet(retire).collect()) == [0, 1]


def test_linked_snapshots_survive_rewrites_and_retention(spark, tmp_path):
    """keep_history snapshots are hard links to the table's immutable
    files: later upserts retire/unlink the table dir, compaction rewrites
    it, retention drops old commits — every surviving as-of read must
    still serve exactly its commit's rows."""
    path = tmp_path / "t"
    t = _table(spark, path, keep_history=2)
    t.upsert(_batch(spark, [(1, "a", 1, "u"), (2, "b", 2, "u")]))
    t.upsert(_batch(spark, [(2, "B", 3, "u")]))
    t.upsert(_batch(spark, [(1, None, 4, "d"), (3, "c", 5, "u")]))
    t.compact(target_partitions=1)
    assert [s for s, _ in t.snapshots()] == [1, 2]  # retention dropped s0
    as_of_1 = sorted(
        (r.id, r.v) for r in t.read(as_of=1).select("id", "v").collect()
    )
    assert as_of_1 == [(1, "a"), (2, "B")]
    as_of_2 = sorted(
        (r.id, r.v) for r in t.read(as_of=2).select("id", "v").collect()
    )
    assert as_of_2 == [(2, "B"), (3, "c")]
    with pytest.raises(FileNotFoundError):
        t.read(as_of=0)


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
