"""The pluggable commit protocol (fsutil): rename-CAS on HDFS-semantics
stores, commit-POINTER on object stores where directory rename is a
non-atomic copy+delete. The pointer path is the Delta/Iceberg shape —
stage immutably, CAS one tiny file — so publishes cannot tear at the
100 TB / S3 design point the engine claims."""

from __future__ import annotations

import os

import pytest

from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
    commit_protocol,
    delete_commit,
    hadoop_fs,
    list_commits,
    pointer_commit,
    publish_commit,
)


def test_protocol_selection_by_scheme_and_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_COMMIT_PROTOCOL", raising=False)
    assert commit_protocol("/tmp/table") == "rename"
    assert commit_protocol("file:/tmp/table") == "rename"
    assert commit_protocol("hdfs://nn/warehouse/t") == "rename"
    for scheme in ("s3a", "s3", "gs", "abfss", "wasb", "oss"):
        assert commit_protocol(f"{scheme}://bucket/t") == "pointer", scheme
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    assert commit_protocol("/tmp/table") == "pointer"
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "rename")
    assert commit_protocol("s3a://bucket/t") == "rename"


def _stage(fs, hpath, root, name, payload=b"x"):
    stage = f"{root}/{name}"
    fs.mkdirs(hpath(stage))
    out = fs.create(hpath(f"{stage}/data"), True)
    out.write(bytearray(payload))
    out.close()
    return stage


def test_pointer_commit_cas_and_stage_preserved(spark, tmp_path):
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    s1 = _stage(fs, hpath, root, "stage_a")
    s2 = _stage(fs, hpath, root, "stage_b")
    target = f"{root}/commits/c0"
    fs.mkdirs(hpath(f"{root}/commits"))
    assert pointer_commit(fs, hpath, s1, target) is True
    # Loser: name taken; its stage is left in place for the caller.
    assert pointer_commit(fs, hpath, s2, target) is False
    assert fs.exists(hpath(s2))
    # The listing resolves the pointer to the WINNER's staged content.
    [(name, content)] = list_commits(fs, hpath, spark, f"{root}/commits")
    assert name == "c0"
    assert content.endswith("stage_a")
    # The staged content was never moved.
    assert fs.exists(hpath(f"{s1}/data"))


def test_burned_pointer_skipped_for_reads_counted_for_allocation(spark, tmp_path):
    """A crash between pointer claim and fill leaves an EMPTY pointer: the
    name is allocated forever (publishers must skip past it) but resolves
    to no content (readers must skip it)."""
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    fs.mkdirs(hpath(f"{root}/commits"))
    fs.createNewFile(hpath(f"{root}/commits/c5.commit"))  # burned claim
    [(name, content)] = list_commits(fs, hpath, spark, f"{root}/commits")
    assert (name, content) == ("c5", None)
    # Publishing at the burned name fails the CAS; a fresh name works.
    s = _stage(fs, hpath, root, "stage_n")
    assert pointer_commit(fs, hpath, s, f"{root}/commits/c5") is False
    assert pointer_commit(fs, hpath, s, f"{root}/commits/c6") is True


def test_delete_commit_removes_pointer_then_content(spark, tmp_path):
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    s = _stage(fs, hpath, root, "stage_a")
    fs.mkdirs(hpath(f"{root}/commits"))
    assert pointer_commit(fs, hpath, s, f"{root}/commits/c0")
    [(name, content)] = list_commits(fs, hpath, spark, f"{root}/commits")
    delete_commit(fs, hpath, f"{root}/commits", name, content)
    assert list_commits(fs, hpath, spark, f"{root}/commits") == []
    assert not fs.exists(hpath(s))


def test_dual_claim_directory_wins(spark, tmp_path):
    """A name claimed both ways (protocol env flipped mid-table): the
    directory form is self-contained and wins."""
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    fs.mkdirs(hpath(f"{root}/commits/c0"))
    s = _stage(fs, hpath, root, "stage_a")
    # Force a pointer alongside (simulates the env flip).
    ptr = f"{root}/commits/c0.commit"
    fs.createNewFile(hpath(ptr))
    out = fs.create(hpath(ptr), True)
    out.write(bytearray(s.encode()))
    out.close()
    [(name, content)] = list_commits(fs, hpath, spark, f"{root}/commits")
    assert name == "c0"
    assert content.rstrip("/").endswith("/c0")


def test_publish_commit_dispatches_by_env(spark, tmp_path, monkeypatch):
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    fs.mkdirs(hpath(f"{root}/commits"))
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    s = _stage(fs, hpath, root, "stage_a")
    assert publish_commit(fs, hpath, s, f"{root}/commits/c0")
    assert fs.exists(hpath(f"{root}/commits/c0.commit"))
    assert fs.exists(hpath(s))  # not moved
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "rename")
    s2 = _stage(fs, hpath, root, "stage_b")
    assert publish_commit(fs, hpath, s2, f"{root}/commits/c1")
    assert not fs.exists(hpath(s2))  # renamed away
    assert fs.exists(hpath(f"{root}/commits/c1/data"))


def test_sidecar_burned_newest_does_not_narrow(spark, tmp_path, monkeypatch):
    """publish must union against the newest PARSEABLE
    version — treating a burned pointer as 'no sidecar' would skip the
    union and narrow the published schema (the vanishing-column hole)."""
    from pyspark.sql import types as T

    from debezium_emr_hudi_deltastreamer_sample_spark.table import SchemaSidecar

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    side = SchemaSidecar(spark, str(tmp_path / "t"))
    wide = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    side.publish(wide)
    # Burn the next name: claim without fill.
    fs, hpath = side._log.fs()
    fs.createNewFile(hpath(f"{side.dir}/v000000000001.commit"))
    narrow = T.StructType([T.StructField("a", T.IntegerType())])
    side.publish(narrow)  # must UNION with v0, not replace
    cur = side.current()
    assert {f.name for f in cur.fields} == {"a", "b"}


def test_keyed_table_time_travel_with_burned_snapshot_name(spark, tmp_path, monkeypatch):
    """A burned snapshot pointer: reads skip it, the next publish allocates
    past it, and time travel over the real commits still works."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", "pointer")
    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], op_col=None, keep_history=5
    )
    df1 = spark.createDataFrame([(1, "a", 1)], "id int, v string, _lsn long")
    t.init(df1)
    # Burn s1 (crash between claim and fill).
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    fs.createNewFile(hpath(f"{tmp_path}/t/_versions/s000000000001.commit"))
    t.upsert(spark.createDataFrame([(2, "b", 2)], "id int, v string, _lsn long"))
    seqs = [s for s, _ in t.snapshots()]
    assert seqs == [0, 2]  # burned s1 skipped, allocation moved past it
    assert {r.id for r in t.read(as_of=0).collect()} == {1}
    assert {r.id for r in t.read(as_of=2).collect()} == {1, 2}


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_mor_lifecycle_under_both_protocols(spark, tmp_path, monkeypatch, protocol):
    """Full MOR lifecycle (append → compact → retention → time travel)
    under each protocol — the crash lanes in tools/fuzz_cdc.py fuzz this;
    here the deterministic shape is pinned."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t = DeltaLogTable(spark, str(tmp_path / "mor"), keys=["id"])
    t.append_changes(mk([(1, "a", "c", 1), (2, "b", "c", 2)]), 0)
    t.compact()
    t.append_changes(mk([(1, "a2", "u", 3), (3, "c", "c", 4)]), 1)
    t.compact()
    t.append_changes(mk([(2, None, "d", 5)]), 2)
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == {
        (1, "a2"),
        (3, "c"),
    }
    assert t.base_versions() == [0, 1]
    # Time travel: version 0 is the state through batch 0.
    assert {(r.id, r.v) for r in t.read_version(0).select("id", "v").collect()} == {
        (1, "a"),
        (2, "b"),
    }
    t.compact()
    assert t.base_versions() == [1, 2]  # retention keeps the two newest


def test_cow_time_travel_schema_as_of(spark, tmp_path):
    """Pre-drift snapshots serve exactly their own columns (embedded
    _schema.json), not the current sidecar's widened set — and drifted
    snapshots carry the new column."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], ordering=["_lsn"],
        op_col=None, keep_history=5,
    )
    t.upsert(spark.createDataFrame([(1, "a", 1)], "id int, v string, _lsn long"))
    t.upsert(
        spark.createDataFrame(
            [(2, "b", 7, 2)], "id int, v string, bonus int, _lsn long"
        )
    )
    assert set(t.read(as_of=0).columns) == {"id", "v"}
    assert set(t.read(as_of=1).columns) == {"id", "v", "bonus"}
    assert set(t.read().columns) == {"id", "v", "bonus"}  # current: sidecar


def test_cow_snapshot_of_emptied_table_readable(spark, tmp_path):
    """A snapshot commit of an EMPTIED table has zero parquet footers —
    the embedded schema keeps it readable (footer inference cannot)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], ordering=["_lsn"],
        keep_history=5,
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t.upsert(mk([(1, "a", "c", 1)]))
    t.upsert(mk([(1, None, "d", 2)]))  # empties the table
    empty = t.read(as_of=1)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "v"}
    assert {r.id for r in t.read(as_of=0).collect()} == {1}


def test_mor_read_version_schema_as_of(spark, tmp_path):
    """MOR time travel: each compaction version reads with its own
    embedded schema — a pre-drift version shows no drift column."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    t = DeltaLogTable(spark, str(tmp_path / "mor"), keys=["id"])
    t.append_changes(
        spark.createDataFrame(
            [(1, "a", "c", 1)], "id int, v string, op string, _lsn long"
        ),
        0,
    )
    t.compact()
    t.append_changes(
        spark.createDataFrame(
            [(2, "b", 9, "c", 2)],
            "id int, v string, bonus int, op string, _lsn long",
        ),
        1,
    )
    t.compact()
    assert set(t.read_version(0).columns) == {"id", "v"}
    assert set(t.read_version(1).columns) == {"id", "v", "bonus"}


def test_rename_cas_witness_survives_concurrent_heal(spark, tmp_path):
    """Round-12 regression (found by the gate run of the threaded rollup
    hunt): a lost rename-CAS degrades to POSIX move-INTO — the loser's
    stage lands NESTED under the winner's commit — and a concurrent
    scanner's crash-garbage heal can delete that nested dir before the
    loser's verdict probe. The historical "no nested dir ⇒ I won" verdict
    then returned True for a publish whose data was just deleted: a
    silently lost batch whose (run, batch) dedup marker vanished with it.
    The CAS witness (._cas_<stage-uuid> checked at target TOP level)
    decides the verdict instead; the injected heal cannot fake it."""
    from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
        rename_commit,
    )

    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    target = f"{root}/commits/c0"
    fs.mkdirs(hpath(f"{root}/commits"))

    winner = _stage(fs, hpath, root, "stage_winner", b"winner")
    loser = _stage(fs, hpath, root, "stage_loser", b"loser")

    def inject_winner():
        # The concurrent writer lands between the loser's exists-probe
        # and its rename.
        assert rename_commit(fs, hpath, winner, target)

    def concurrent_heal():
        # The scanner's heal removes any directory member of a published
        # commit — including the loser's just-nested copy — before the
        # loser's verdict probe runs.
        for st in fs.listStatus(hpath(target)):
            if st.isDirectory():
                fs.delete(st.getPath(), True)

    won = rename_commit(
        fs,
        hpath,
        loser,
        target,
        _test_before_rename=inject_winner,
        _test_after_rename=concurrent_heal,
    )
    assert not won, (
        "loser reported a won CAS after the concurrent heal deleted its "
        "nested copy — the silent lost-update the witness exists to stop"
    )
    # The winner's content is the commit, witness cleaned up.
    names = sorted(
        st.getPath().getName() for st in fs.listStatus(hpath(target))
    )
    assert names == ["data"], names
    data = fs.open(hpath(f"{target}/data"))
    try:
        payload = bytes(data.readAllBytes())
    finally:
        data.close()
    assert payload == b"winner"


def test_rename_cas_plain_win_leaves_no_witness(spark, tmp_path):
    from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
        rename_commit,
    )

    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path)
    target = f"{root}/commits/c1"
    fs.mkdirs(hpath(f"{root}/commits"))
    stage = _stage(fs, hpath, root, "stage_plain", b"solo")
    assert rename_commit(fs, hpath, stage, target)
    names = sorted(
        st.getPath().getName() for st in fs.listStatus(hpath(target))
    )
    assert names == ["data"], names


def _touch_commit(fs, hpath, root, name):
    """A commit named ``name`` under ``root``: a directory, or with a
    ``.commit`` suffix a pointer file (empty unless it names content)."""
    if name.endswith(".commit"):
        fs.createNewFile(hpath(f"{root}/{name}"))
    else:
        fs.mkdirs(hpath(f"{root}/{name}"))


@pytest.mark.parametrize(
    "prefix,names,expected",
    [
        ("v", ["v000000000003", "v000000000000"], [(0, None), (3, None)]),
        ("e", ["e000000000001", "e000000000002.commit"], [(1, None), (2, None)]),
        ("s", ["s000000000002", "s12", "x000000000001"], [(2, None)]),
        (
            "v",
            ["v000000000002_t000000000005", "v000000000001_t000000000003"],
            [(1, "t000000000003"), (2, "t000000000005")],
        ),
        (
            "c",
            ["c000000000004", "c000000000050_b000000000007_oldrun"],
            [(4, None), (50, "b000000000007_oldrun")],
        ),
        ("c", ["c000000000004", "c000000000004.commit"], [(4, None)]),
    ],
    ids=["sidecar", "lease", "snapshot", "mor-base", "rollup+legacy", "dual-claim"],
)
def test_commit_log_name_grammar(spark, tmp_path, prefix, names, expected):
    """``<prefix><seq:012d>[_<tag>]`` covers every versioned directory;
    other names are ignored. An empty pointer is listed (its name is
    allocated) with no content; a pointer beside a directory of the same
    name resolves to the directory."""
    from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import CommitLog

    fs, hpath = hadoop_fs(spark, str(tmp_path))
    root = str(tmp_path / "log")
    fs.mkdirs(hpath(root))
    for name in names:
        _touch_commit(fs, hpath, root, name)
    got = CommitLog(spark, root, prefix).entries()
    assert [(c.seq, c.tag) for c in got] == expected
    for c in got:
        if fs.exists(hpath(f"{root}/{c.name}")):
            assert c.uri.rstrip("/").endswith(f"/{c.name}")
        else:
            assert c.uri is None  # empty pointer: never published


def _run_rival_first(log, rival):
    """Make ``log``'s next publish call run ``rival()`` first: the caller
    has already taken its listing, so the rival's commits land between
    that listing and the CAS."""
    real = log.publish

    def publish(*args, **kwargs):
        del log.publish
        rival()
        return real(*args, **kwargs)

    log.publish = publish


def _after_next_win(monkeypatch, hook):
    """Run ``hook()`` once, right after the next won ``publish_commit``
    and before that publisher's post-win listing."""
    from debezium_emr_hudi_deltastreamer_sample_spark import fsutil

    real = fsutil.publish_commit
    pending = [hook]

    def publish_commit(*args):
        won = real(*args)
        if won and pending:
            pending.pop()()
        return won

    monkeypatch.setattr(fsutil, "publish_commit", publish_commit)


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_stale_sidecar_publish_rebuilds_on_tip(spark, tmp_path, monkeypatch, protocol):
    """Name reuse after retention, pinned without threads: A lists [v0];
    B publishes v1..v3, and retention frees v1; A's CAS then wins the free
    v1 BELOW the tip. A must drop that entry and re-publish on top, so its
    column reaches the newest version."""
    from pyspark.sql import types as T

    from debezium_emr_hudi_deltastreamer_sample_spark.table import SchemaSidecar

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    field = lambda n: T.StructField(n, T.IntegerType())  # noqa: E731
    path = str(tmp_path / "t")
    a, b = SchemaSidecar(spark, path), SchemaSidecar(spark, path)
    a.publish(T.StructType([field("id")]))  # v0

    def rival():
        for col in ("b1", "b2", "b3"):
            b.publish(T.StructType([field("id"), field(col)]))
        assert [c.seq for c in b._log.entries()] == [2, 3]  # v1 is free again

    _run_rival_first(a._log, rival)
    a.publish(T.StructType([field("id"), field("a1")]))
    assert [c.seq for c in a._log.entries()] == [3, 4]  # A's stale v1 is gone
    assert set(a.current().names) == {"id", "b1", "b2", "b3", "a1"}


def _rollups(spark, tmp_path, monkeypatch, protocol):
    """(new rollup handle on one shared path, one-event batch of value v)."""
    import datetime as dt

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    path = str(tmp_path / "rollup")
    roll = lambda: IncrementalRollup(  # noqa: E731
        spark, path, ts_col="ts", bucket="1 hour", keys=["k"], value_col="v"
    )
    ts = dt.datetime(2024, 1, 1, 0, 30)
    ev = lambda v: spark.createDataFrame(  # noqa: E731
        [(ts, "k", v)], "ts timestamp, k string, v double"
    )
    return roll, ev


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_stale_rollup_publish_rebuilds_on_tip(spark, tmp_path, monkeypatch, protocol):
    """Rollup twin: run A lists [c0]; run B commits c1..c3, and retention
    frees c1; A's CAS wins c1 below the tip. A's batch must land on top
    exactly once — not lost under B's newer commits, not double-counted."""
    roll, ev = _rollups(spark, tmp_path, monkeypatch, protocol)
    a, b = roll(), roll()
    b.apply_batch(ev(1.0), batch_id=0, run_id="b")  # c0

    def rival():
        for i, v in enumerate((2.0, 4.0, 8.0), start=1):
            b.apply_batch(ev(v), batch_id=i, run_id="b")
        assert [c.seq for c in b._log.entries()] == [2, 3]  # c1 is free again

    _run_rival_first(a._log, rival)
    a.apply_batch(ev(16.0), batch_id=0, run_id="a")
    assert [c.seq for c in a._log.entries()] == [3, 4]  # A's stale c1 is gone
    # The tip is A's commit, its manifest carrying both runs' high-waters.
    assert a._state()[1] == {"a": 0, "b": 3}
    [row] = a.read().collect()
    assert (row.n, row.total) == (5, 31.0)
    a.apply_batch(ev(16.0), batch_id=0, run_id="a")  # replay: deduplicated
    [row] = a.read().collect()
    assert (row.n, row.total) == (5, 31.0)


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_stale_rollup_entry_vouches_for_nothing(spark, tmp_path, monkeypatch, protocol):
    """A's CAS wins the freed c1 below tip c3 (as above), and run C applies
    a batch between A's win and A's post-win listing. C lists A's stale
    c1 but merges from c3, so C's commit must not record A's batch as
    applied — else A's retry would skip it and the batch would be lost."""
    roll, ev = _rollups(spark, tmp_path, monkeypatch, protocol)
    a, b, c = roll(), roll(), roll()
    b.apply_batch(ev(1.0), batch_id=0, run_id="b")  # c0

    def rival():
        for i, v in enumerate((2.0, 4.0, 8.0), start=1):
            b.apply_batch(ev(v), batch_id=i, run_id="b")
        _after_next_win(
            monkeypatch, lambda: c.apply_batch(ev(32.0), batch_id=0, run_id="c")
        )

    _run_rival_first(a._log, rival)
    a.apply_batch(ev(16.0), batch_id=0, run_id="a")  # wins c1; C then lands c4
    assert a._log.entries()[-1].seq == 5  # A rebuilt on C's c4
    assert a._state()[1] == {"a": 0, "b": 3, "c": 0}
    [row] = a.read().collect()
    assert (row.n, row.total) == (6, 63.0)


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_rollup_false_loss_keeps_entry_and_applies_once(
    spark, tmp_path, monkeypatch, protocol
):
    """A wins c1 at the real tip, and run D lists, merges from c1 and
    publishes c2 before A's post-win listing. A reports a lost CAS, but
    c1 is D's parent inside the keep window: it stays readable, and A's
    retry finds its batch in D's manifest instead of applying it twice."""
    roll, ev = _rollups(spark, tmp_path, monkeypatch, protocol)
    a, d = roll(), roll()
    a.apply_batch(ev(1.0), batch_id=0, run_id="b")  # c0
    _after_next_win(
        monkeypatch, lambda: d.apply_batch(ev(4.0), batch_id=0, run_id="d")
    )
    a.apply_batch(ev(2.0), batch_id=0, run_id="a")
    entries = a._log.entries()
    assert [c.seq for c in entries] == [1, 2]  # D's parent c1 was kept
    assert a.spark.read.parquet(entries[0].uri).count() == 1
    assert a._state()[1] == {"a": 0, "b": 0, "d": 0}
    [row] = a.read().collect()
    assert (row.n, row.total) == (3, 7.0)


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
@pytest.mark.parametrize("when", ["plan", "scan"])
def test_rollup_rebuilds_when_its_tip_is_retired(
    spark, tmp_path, monkeypatch, protocol, when
):
    """A lists tip c0; before A's merge is planned ("plan") or while its
    planned scan is about to run ("scan"), run B commits c1 and c2, and
    retention (keep_commits=2) retires c0. A's read of c0 fails; A must
    rebuild on the new tip c2, not raise, and apply its batch once."""
    from pyspark.sql import DataFrameWriter

    roll, ev = _rollups(spark, tmp_path, monkeypatch, protocol)
    a, b = roll(), roll()
    a.apply_batch(ev(1.0), batch_id=0, run_id="b")  # c0

    def rival():
        for i, v in ((1, 2.0), (2, 4.0)):
            b.apply_batch(ev(v), batch_id=i, run_id="b")

    pending = [rival]
    if when == "plan":
        real_partials = a._partials

        def partials(df):
            if pending:
                pending.pop()()
            return real_partials(df)

        a._partials = partials
    else:
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            if pending:
                pending.pop()()
            return real_parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    a.apply_batch(ev(16.0), batch_id=0, run_id="a")
    assert not pending  # the rival ran inside A's apply
    assert [c.seq for c in a._log.entries()] == [2, 3]  # A built on c2
    assert a._state()[1] == {"a": 0, "b": 2}
    [row] = a.read().collect()
    assert (row.n, row.total) == (4, 23.0)


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_mor_read_raises_a_delta_read_error(spark, tmp_path, monkeypatch, protocol):
    """A store error on the delta log must reach the MOR reader. Taken for
    "no deltas", it made ``read()`` serve the compacted base alone and
    ``read_incremental`` report an empty log; only a missing directory is
    empty."""
    from pyspark.sql import DataFrameReader

    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t = DeltaLogTable(spark, str(tmp_path / "mor"), keys=["id"])
    t.append_changes(mk([(1, "b", "c", 1), (2, "x", "c", 2)]), 0)
    t.compact()  # base {1:b, 2:x}
    t.append_changes(mk([(1, "z", "u", 3), (3, "new", "c", 4)]), 1)
    rows = lambda df: {(r.id, r.v) for r in df.select("id", "v").collect()}  # noqa: E731
    assert rows(t.read()) == {(1, "z"), (2, "x"), (3, "new")}

    real_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **kwargs):
        if any(str(p).rstrip("/").endswith("/mor/delta") for p in paths):
            raise OSError("injected delta read failure")
        return real_parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    with pytest.raises(OSError, match="injected delta read failure"):
        t.read()
    with pytest.raises(OSError, match="injected delta read failure"):
        t.read_incremental(0)
    assert rows(t.read(optimized=True)) == {(1, "b"), (2, "x")}  # base only

    class BrokenListing:
        def __init__(self, fs):
            self.fs = fs

        def listStatus(self, p):
            raise OSError("injected listing failure")

        def __getattr__(self, name):
            return getattr(self.fs, name)

    fs, hpath = t._fs()
    monkeypatch.setattr(t, "_fs", lambda: (BrokenListing(fs), hpath))
    with pytest.raises(OSError, match="injected listing failure"):
        t.delta_batches()
